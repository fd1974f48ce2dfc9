package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.text.Bpe

/** Hand-computed fixtures for the in-engine BPE tokenizer (b01 train /
  * b02 encode): the classic Sennrich corpus, greedy-run semantics,
  * word-boundary isolation, and the encode plan contract. */
class BpeSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  private def corpus(words: (String, Int)*) =
    words.flatMap { case (w, n) => Seq.fill(n)(w) }
      .mkString(" ") match { case t => Seq((1L, t)).toDF("doc_id", "text") }

  test("train: the classic low/lower/newest/widest corpus elects the " +
       "hand-computed merges with deterministic tie-breaks") {
    val df = corpus("low" -> 5, "lower" -> 2, "newest" -> 6,
      "widest" -> 3)
    val m = BpeOracle.train(df, "text", nMerges = 4)
    assert(m.map(x => (x.rank, x.left, x.right, x.pairCount)) === Seq(
      (1, "e", "s", 9L),   // es 9 ties st 9; 'e' < 's' breaks it
      (2, "es", "t", 9L),  // est forms immediately
      (3, "l", "o", 7L),   // lo 7 ties ow 7; 'l' < 'o'
      (4, "lo", "w", 7L)))
    // the canonical payoff: an UNSEEN word segments morphologically
    val enc = BpeOracle.encode(Seq((1L, "lowest")).toDF("id", "text"),
        "text", m)
      .select("encoded").as[String].head()
    assert(enc === "low est")
  }

  test("train + encode: repeated runs merge greedily left-to-right " +
       "like reference BPE (aaaaa -> aa aa a, not aa a aa)") {
    val df = Seq((1L, "aaaaa")).toDF("doc_id", "text")
    val m = BpeOracle.train(df, "text", nMerges = 1)
    assert(m === Seq(Bpe.Merge(1, "a", "a", "aa", 4L)))
    val enc = BpeOracle.encode(df, "text", m)
      .select("n_tokens_bpe", "encoded").as[(Int, String)].head()
    assert(enc === ((3, "aa aa a")),
      "the unit encoding must not let one replacement eat the next " +
        "match's separator")
  }

  test("encode: merges never cross word boundaries and ride rank order") {
    val m = Seq(Bpe.Merge(1, "b", "a", "ba", 0L))
    val enc = BpeOracle.encode(Seq((1L, "ab ab")).toDF("id", "text"), "text", m)
      .select("n_tokens_bpe", "encoded").as[(Int, String)].head()
    assert(enc === ((4, "a b | a b")),
      "'b a' spans the word boundary — it must never merge")
    // rank order, not refreshed counts: (a,b) then (ab,c) chains
    val m2 = Seq(Bpe.Merge(1, "a", "b", "ab", 0L),
      Bpe.Merge(2, "ab", "c", "abc", 0L))
    val enc2 = BpeOracle.encode(Seq((1L, "abc")).toDF("id", "text"), "text", m2)
      .select("encoded").as[String].head()
    assert(enc2 === "abc")
  }

  test("train: pair-starved corpora stop early instead of crashing " +
       "(single-char words, empty corpus)") {
    assert(BpeOracle.train(Seq((1L, "a b a")).toDF("doc_id", "text"),
      "text", nMerges = 5).isEmpty)
    assert(BpeOracle.train(Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "text", nMerges = 3).isEmpty)
    // merges stop when the vocabulary is fully merged
    val m = BpeOracle.train(Seq((1L, "ab ab")).toDF("doc_id", "text"),
      "text", nMerges = 10)
    assert(m.map(_.merged) === Seq("ab"),
      "one merge exhausts the two-char vocabulary")
  }

  test("encode plan: a static replace chain — zero exchanges, " +
       "whole-stage codegen") {
    val docs = graft.core.Tables.documents(spark, SparkSpec.sfDir)
    val m = (1 to 8).map(i => Bpe.Merge(i, s"x$i", "y", s"x${i}y", 0L))
    val out = BpeOracle.encode(docs, "text", m)
    out.collect()
    val p = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!p.contains("Exchange"), s"encode must not shuffle:\n$p")
    assert(p.contains("*("), "expected whole-stage codegen")
  }

  test("vocab + encodeIds: chars-then-merges ids, positions elide " +
       "word boundaries, OOV symbols map to null") {
    val df = Seq((1L, "ab ab b")).toDF("doc_id", "text")
    val m = BpeOracle.train(df, "text", nMerges = 1) // (a,b) cnt 2
    assert(m.map(_.merged) === Seq("ab"))
    val v = Bpe.vocab(df, "text", m)
    assert(v === Seq((0, "a", "char"), (1, "b", "char"),
      (2, "ab", "merge")))
    val ids = Bpe.encodeIds(df, "doc_id", "text", m, v)
      .select("pos", "symbol", "token_id")
      .as[(Int, String, Integer)].collect().sortBy(_._1)
    assert(ids.toSeq === Seq((0, "ab", Integer.valueOf(2)),
      (1, "ab", Integer.valueOf(2)), (2, "b", Integer.valueOf(1))),
      "pos skips the two | boundaries; merged symbol takes id 2")
    val oov = Bpe.encodeIds(Seq((9L, "xz")).toDF("doc_id", "text"),
        "doc_id", "text", m, v)
      .select("symbol", "token_id").as[(String, Integer)].collect()
    assert(oov.forall(_._2 == null),
      "characters outside the base set are NULL — caller's OOV policy")
    // an empty / whitespace-only document has NO symbols — it must
    // contribute zero rows (not a spurious ''-symbol OOV row)
    val empty = Bpe.encodeIds(
      Seq((7L, ""), (8L, "   ")).toDF("doc_id", "text"),
      "doc_id", "text", m, v)
    assert(empty.count() === 0L)
  }

  test("coverageReport: unseen characters are the OOV mass, covered " +
       "text scores zero") {
    val train = Seq((1L, "aa bb aa")).toDF("doc_id", "text")
    val m = BpeOracle.train(train, "text", nMerges = 2)
    val v = Bpe.vocab(train, "text", m)
    val eval = Seq(
      (1L, "aa bb"),          // fully covered
      (2L, "aa 99"),          // digits never seen: 2 OOV symbols
      (3L, "zz")).toDF("doc_id", "text") // unseen letter, unmerged: 2 OOV
    val r = Bpe.coverageReport(eval, "doc_id", "text", m, v)
      .select("doc_id", "n_tokens_bpe", "n_oov", "oov_ratio")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(r(0)._3 === 0L && r(0)._4 === 0.0)
    assert(r(1)._3 === 2L, "each digit is an OOV symbol")
    assert(r(2) === ((3L, 2L, 2L, 1.0)),
      "an entirely-unseen word is 100% OOV")
  }

  test("encodeFast ≡ encode: bit-identical on the gate fixture and on " +
       "repeated-run / chain / boundary adversaries") {
    val docs = graft.core.Tables.documents(spark, SparkSpec.sfDir)
      .select("doc_id", "text")
    val m = BpeOracle.train(docs, "text", nMerges = 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_tokens_bpe", "encoded")
        .as[(Long, Int, String)].collect().sortBy(_._1).toSeq
    assert(rows(Bpe.encodeFast(docs, "text", m)) ===
      rows(BpeOracle.encode(docs, "text", m)))
    // adversaries: greedy repeated runs, rank chains, word boundaries,
    // unseen symbols, empty-ish text
    val adv = Seq((1L, "aaaaa"), (2L, "ab ab"), (3L, "abc abc zq"),
      (4L, "a"), (5L, "aa aaa aaaa b ab ba")).toDF("doc_id", "text")
    val m2 = Seq(Bpe.Merge(1, "a", "a", "aa", 0L),
      Bpe.Merge(2, "a", "b", "ab", 0L),
      Bpe.Merge(3, "ab", "c", "abc", 0L),
      Bpe.Merge(4, "aa", "aa", "aaaa", 0L))
    assert(rows(Bpe.encodeFast(adv, "text", m2)) ===
      rows(BpeOracle.encode(adv, "text", m2)))
  }

  test("encodeFast: per-word cost independent of merge count — a " +
       "4096-entry merge table encodes without a 4096-deep expression " +
       "chain (and without shuffles)") {
    val docs = graft.core.Tables.documents(spark, SparkSpec.sfDir)
      .select("doc_id", "text").filter(col("doc_id") < 50)
    // a large synthetic merge table: mostly never-matching entries +
    // a real chain at scattered ranks, as a frozen production table
    val filler = (1 to 4090).map(i =>
      Bpe.Merge(i, s"q${i}z", "qq", s"q${i}zqq", 0L))
    val real = Seq(Bpe.Merge(4091, "t", "h", "th", 0L),
      Bpe.Merge(4092, "th", "e", "the", 0L),
      Bpe.Merge(4093, "a", "n", "an", 0L),
      Bpe.Merge(4094, "an", "d", "and", 0L),
      Bpe.Merge(4095, "i", "n", "in", 0L),
      Bpe.Merge(4096, "o", "f", "of", 0L))
    val out = Bpe.encodeFast(docs, "text", filler ++ real)
    val small = BpeOracle.encode(docs, "text", real)
    import org.apache.spark.sql.functions.col
    val a = out.select("doc_id", "n_tokens_bpe", "encoded")
      .as[(Long, Int, String)].collect().sortBy(_._1).toSeq
    val b = small.select("doc_id", "n_tokens_bpe", "encoded")
      .as[(Long, Int, String)].collect().sortBy(_._1).toSeq
    assert(a === b, "filler merges never match — output must equal the " +
      "6-merge chain's")
    val p = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!p.contains("Exchange"), s"encodeFast must not shuffle:\n$p")
  }

  test("encodeIds ≡ the oracle chain exploded through the vocab (ids, " +
       "positions, OOV nulls)") {
    val docs = graft.core.Tables.documents(spark, SparkSpec.sfDir)
      .select("doc_id", "text").filter(col("doc_id") < 80)
    val m = BpeOracle.train(docs, "text", nMerges = 6)
    val v = Bpe.vocab(docs, "text", m)
    val vmap = typedLit(v.map(x => x._2 -> x._1).toMap)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "pos", "symbol", "token_id")
        .as[(Long, Int, String, Integer)].collect()
        .sortBy(r => (r._1, r._2)).toSeq
    val chain = BpeOracle.encode(docs, "text", m)
      .select(col("doc_id"), posexplode(filter(split(col("encoded"), " "),
        s => s =!= "|" && s =!= "")).as(Seq("pos", "symbol")))
      .withColumn("token_id", element_at(vmap, col("symbol")))
    assert(rows(Bpe.encodeIds(docs, "doc_id", "text", m, v)) === rows(chain))
  }

  test("trainBatched ≡ train: gate fixture at several batch widths") {
    val docs = graft.core.Tables.documents(spark, SparkSpec.sfDir)
      .select("doc_id", "text")
    val seq = BpeOracle.train(docs, "text", nMerges = 8)
    for (w <- Seq(1, 2, 256)) {
      assert(Bpe.trainBatched(docs, "text", nMerges = 8,
        electBatch = w) === seq, s"electBatch=$w diverged")
    }
  }

  test("encodeFast encodes a rank-INCONSISTENT table (component " +
       "formed by a later merge) with the chain semantics, and dead " +
       "never-formable entries are harmless") {
    val df = Seq((1L, "abc")).toDF("doc_id", "text")
    def enc(f: org.apache.spark.sql.DataFrame) =
      f.select("n_tokens_bpe", "encoded").as[(Int, String)].head()
    // rank 1 consumes 'ab', which only rank 2 can form: the chain has
    // passed rank 1 by the time 'ab' exists, the greedy scan would not
    val bad = Seq(Bpe.Merge(1, "ab", "c", "abc", 0L),
      Bpe.Merge(2, "a", "b", "ab", 0L))
    assert(!Bpe.isRankConsistent(bad))
    assert(enc(Bpe.encodeFast(df, "text", bad)) === ((2, "ab c")))
    assert(enc(Bpe.encodeFast(df, "text", bad)) ===
      enc(BpeOracle.encode(df, "text", bad)))
    // a dead multi-char component no merge ever forms is harmless —
    // it can match in NEITHER path
    val dead = Seq(Bpe.Merge(1, "qqq", "zzz", "qqqzzz", 0L),
      Bpe.Merge(2, "a", "b", "ab", 0L))
    assert(Bpe.isRankConsistent(dead))
    val out = Bpe.encodeFast(df, "text", dead)
      .select("encoded").as[String].head()
    assert(out === "ab c")
  }

  test("rank-straddling table (a component's forming ranks STRADDLE " +
       "its use — the case a min-rank-only check waves through): " +
       "encodeFast and encodeSp follow the oracle chain") {
    val df = Seq((1L, "dabc")).toDF("doc_id", "text")
    // 'abc' forms at rank 3 AND rank 5; rank 4 uses it in between.
    // On 'dabc' the chain yields [d, abc] (rank 4 has already passed
    // when rank 5 finally assembles abc) while a greedy scan forms
    // abc via rank 5 and then applies rank 4 → [dabc].
    val straddle = Seq(Bpe.Merge(1, "a", "b", "ab", 0L),
      Bpe.Merge(2, "b", "c", "bc", 0L),
      Bpe.Merge(3, "a", "bc", "abc", 0L),
      Bpe.Merge(4, "d", "abc", "dabc", 0L),
      Bpe.Merge(5, "ab", "c", "abc", 0L))
    assert(!Bpe.isRankConsistent(straddle))
    val chain = BpeOracle.encode(df, "text", straddle)
      .select("encoded").as[String].head()
    assert(chain === "d abc")
    assert(Bpe.encodeFast(df, "text", straddle)
      .select("encoded").as[String].head() === chain)
    // ▁-marked: the chain over the marked words, words joined by a
    // space instead of ` | ` (the ▁s carry the boundaries)
    val sp = Seq((1L, "dabc abc")).toDF("doc_id", "text")
    val spChain = BpeOracle.encode(
        sp.select(col("doc_id"), Bpe.markWords(col("text")).as("text")),
        "text", straddle)
      .select("n_tokens_bpe", "encoded").as[(Int, String)].head()
    assert(spChain === ((5, "▁ d abc | ▁ abc")))
    assert(Bpe.encodeSp(sp, "text", straddle)
      .select("n_tokens_sp", "encoded_sp").as[(Int, String)].head() ===
      ((spChain._1, spChain._2.replace(" | ", " "))))
    // duplicate-formable is FINE when every forming rank precedes
    // every use: same table with ranks 4/5 swapped is consistent and
    // the two paths agree
    val ok = Seq(Bpe.Merge(1, "a", "b", "ab", 0L),
      Bpe.Merge(2, "b", "c", "bc", 0L),
      Bpe.Merge(3, "a", "bc", "abc", 0L),
      Bpe.Merge(4, "ab", "c", "abc", 0L),
      Bpe.Merge(5, "d", "abc", "dabc", 0L))
    assert(Bpe.isRankConsistent(ok))
    assert(Bpe.encodeFast(df, "text", ok)
        .select("encoded").as[String].head() ===
      BpeOracle.encode(df, "text", ok)
        .select("encoded").as[String].head())
  }

  test("a null text encodes as 0 tokens and an empty encoding on " +
       "every encoder (encodeFast, encodeSp, encodeBytes)") {
    val df = Seq((1L, null: String), (2L, "ab")).toDF("doc_id", "text")
    val m = Seq(Bpe.Merge(1, "a", "b", "ab", 0L))
    def nullRow(f: org.apache.spark.sql.DataFrame, n: String, e: String) =
      f.filter(col("doc_id") === 1L).select(n, e)
        .as[(Int, String)].collect().toSeq
    assert(nullRow(Bpe.encodeFast(df, "text", m), "n_tokens_bpe",
      "encoded") === Seq((0, "")))
    assert(nullRow(Bpe.encodeSp(df, "text", m), "n_tokens_sp",
      "encoded_sp") === Seq((0, "")))
    assert(nullRow(Bpe.encodeBytes(df, "text", m), "n_tokens_b",
      "encoded_b") === Seq((0, "")))
  }

  test("encodeBytes: a rank-straddling frozen table routes through the " +
       "rank-ordered chain (serving-path fallback, no hard fail) and " +
       "still round-trips; consistent tables keep the greedy scan") {
    val df = Seq((1L, "dabc")).toDF("doc_id", "text")
    // ascii letters are their own byte-alphabet surrogates, so the
    // char-mode straddle fixture carries over: 'abc' forms at rank 3
    // AND rank 5, rank 4 uses it in between
    val straddle = Seq(Bpe.Merge(1, "a", "b", "ab", 0L),
      Bpe.Merge(2, "b", "c", "bc", 0L),
      Bpe.Merge(3, "a", "bc", "abc", 0L),
      Bpe.Merge(4, "d", "abc", "dabc", 0L),
      Bpe.Merge(5, "ab", "c", "abc", 0L))
    assert(!Bpe.isRankConsistent(straddle))
    val got = Bpe.encodeBytes(df, "text", straddle)
      .select("encoded_b").as[String].head()
    assert(got === "▁ d abc",
      "chain semantics: rank 4 already passed when rank 5 forms abc")
    assert(Bpe.decodeBytes(got) === "dabc")
    // consistent variant (ranks 4/5 swapped): greedy path, full merge
    val ok = Seq(Bpe.Merge(1, "a", "b", "ab", 0L),
      Bpe.Merge(2, "b", "c", "bc", 0L),
      Bpe.Merge(3, "a", "bc", "abc", 0L),
      Bpe.Merge(4, "ab", "c", "abc", 0L),
      Bpe.Merge(5, "d", "abc", "dabc", 0L))
    val got2 = Bpe.encodeBytes(df, "text", ok)
      .select("encoded_b").as[String].head()
    assert(got2 === "▁ dabc")
    assert(Bpe.decodeBytes(got2) === "dabc")
  }

  test("trainBatched ≡ train: adversarial corpora — self-pair runs, " +
       "count ties, interacting top pairs, early exhaustion") {
    val fixtures = Seq(
      // self-pair dominates: (a,a) then its run-derived (aa,aa)/(aa,a)
      corpus("aaaaaaaa" -> 3, "aaaa" -> 2, "bc" -> 4),
      // ties everywhere: es/st tie, lo/ow tie (the classic corpus)
      corpus("low" -> 5, "lower" -> 2, "newest" -> 6, "widest" -> 3),
      // interacting top pairs sharing symbols: ab, bc, cd all touch
      corpus("abcd" -> 7, "bcd" -> 5, "cd" -> 3, "xy" -> 6),
      // merged symbol equals a later candidate's component
      corpus("ab" -> 9, "abc" -> 8, "abab" -> 4),
      // rule 4b: run-heavy corpora where a later candidate can
      // RE-FORM an earlier round's merged string (aa/aaa/aaaa have
      // multiple formation routes), so existing + freshly-created
      // pair populations would otherwise double-count
      corpus("aaaaaa" -> 5, "aaa" -> 7, "aa" -> 9, "baab" -> 3),
      corpus("aabaab" -> 6, "aaaa" -> 6, "ab" -> 11, "ba" -> 2),
      // exhaustion before nMerges
      corpus("ab" -> 2))
    for ((df, fi) <- fixtures.zipWithIndex; w <- Seq(1, 2, 3, 64)) {
      val seq = BpeOracle.train(df, "text", nMerges = 12)
      val bat = Bpe.trainBatched(df, "text", nMerges = 12,
        electBatch = w)
      assert(bat === seq, s"fixture $fi electBatch=$w diverged")
    }
  }

  test("b05 sentencepiece markers: decode(encode(x)) == x exactly — " +
       "space runs, leading/trailing spaces, empty text, unicode — and " +
       "merges learn across the ▁ boundary marker without crossing it") {
    val train = corpus("low" -> 5, "lower" -> 2, "newest" -> 6,
      "widest" -> 3)
    val m = Bpe.trainSp(train, "text", nMerges = 6)
    assert(m.exists(x => x.left == "▁" || x.merged.startsWith("▁")),
      "the marker participates in merges like any character")
    assert(m.forall(x => !x.right.startsWith("▁")),
      "no trained merge's RIGHT side can start with ▁ — the invariant " +
        "that keeps whole-stream encoding word-local")
    val texts = Seq(
      "low lower lowest",
      "  leading and  double  spaces",
      "trailing space ",
      "",
      " ",
      "größe café 𝄞clef",
      "low low low low")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val out = Bpe.encodeSp(df, "text", m)
      .withColumn("decoded", Bpe.decodeSp(col("encoded_sp")))
      .select("doc_id", "text", "decoded", "n_tokens_sp", "encoded_sp")
      .as[(Long, String, String, Int, String)].collect().sortBy(_._1)
    for ((orig, i) <- texts.zipWithIndex)
      assert(out(i)._3 === orig, s"round-trip broke on '${orig}'")
    // the token count is the symbol count of the stream
    assert(out.forall(r => r._4 ===
      r._5.split(" ").count(_.nonEmpty)))
  }

  test("trainBatched ≡ train: randomized property — 12 seeded corpora " +
       "over a 3-letter alphabet (maximal interaction/tie/self-pair " +
       "density) at two batch widths") {
    for (seed <- 1 to 12) {
      val rnd = new scala.util.Random(seed * 7919L)
      val words = Seq.fill(4 + rnd.nextInt(5)) {
        val len = 1 + rnd.nextInt(6)
        (Seq.fill(len)("abc" (rnd.nextInt(3))).mkString,
          1 + rnd.nextInt(4))
      }
      val df = corpus(words: _*)
      val seq = BpeOracle.train(df, "text", nMerges = 6)
      for (w <- Seq(2, 4)) {
        val bat = Bpe.trainBatched(df, "text", nMerges = 6,
          electBatch = w)
        assert(bat === seq,
          s"seed=$seed electBatch=$w corpus=$words diverged")
      }
    }
  }

  test("b07 byte fallback: decodeBytes(encodeBytes(x)) == x for " +
       "ARBITRARY UTF-8 — space runs, controls, astral plane, even a " +
       "literal ▁ — and coverage is identically ZERO OOV") {
    val train = corpus("low" -> 5, "lower" -> 2, "newest" -> 6,
      "widest" -> 3)
    val m = Bpe.trainBytes(train, "text", nMerges = 8)
    assert(m.size === 8)
    val texts = Seq(
      "low lower lowest",
      "  leading and  double  spaces",
      "trailing space ",
      "",
      " ",
      "größe café 𝄞clef 日本語のテキスト",
      "emoji 🎼🎶 mixed عربى и кириллица",
      "\ttab\nnewline\r\nmixed " + 0.toChar + " control bytes",
      // in byte mode a literal ▁ is just three UTF-8 bytes — it
      // byte-maps to surrogates and round-trips (b05's one input
      // contract disappears)
      "literal ▁ marker is fine here")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val out = Bpe.decodeBytesFrame(
        Bpe.encodeBytes(df, "text", m), "encoded_b")
      .select("doc_id", "decoded_b").as[(Long, String)]
      .collect().sortBy(_._1)
    for ((orig, i) <- texts.zipWithIndex)
      assert(out(i)._2 === orig,
        s"byte round-trip broke on fixture $i")
    // randomized round-trip: seeded unicode strings over the full
    // codepoint space (minus lone surrogates)
    val rnd = new scala.util.Random(2026L)
    val fuzz = (0 until 40).map { i =>
      val sb = new java.lang.StringBuilder
      (0 until 1 + rnd.nextInt(30)).foreach { _ =>
        val cp0 = rnd.nextInt(0x10FFFF + 1)
        val cp = if (cp0 >= 0xD800 && cp0 <= 0xDFFF) 0x40 + cp0 % 26
                 else cp0
        sb.appendCodePoint(cp)
      }
      (i.toLong, sb.toString)
    }
    val fdf = fuzz.toDF("doc_id", "text")
    val fout = Bpe.decodeBytesFrame(
        Bpe.encodeBytes(fdf, "text", m), "encoded_b")
      .select("doc_id", "decoded_b").as[(Long, String)]
      .collect().sortBy(_._1)
    for (((_, orig), i) <- fuzz.zipWithIndex)
      assert(fout(i)._2 === orig, s"fuzz round-trip broke on seed row $i")
    // the b04 motivation, closed: the drifted corpus (chars the
    // training alphabet never saw) scores ZERO OOV in byte mode
    val v = Bpe.byteVocab(m)
    val cov = Bpe.coverageReportBytes(
        df.unionAll(fdf.withColumn("doc_id", col("doc_id") + 100)),
        "doc_id", "text", m, v)
      .select("doc_id", "n_oov", "oov_ratio")
      .as[(Long, Long, Double)].collect()
    assert(cov.nonEmpty && cov.forall(r => r._2 === 0L && r._3 === 0.0),
      "byte fallback must have no OOV mass on ANY corpus")
  }

  test("b07 byteVocab: closed 257-symbol base (256 surrogates + ▁) " +
       "then merges; byteAlphabet is a 256-char bijection with no " +
       "space and no ▁ collision") {
    assert(Bpe.byteAlphabet.size === 256)
    assert(Bpe.byteAlphabet.distinct.size === 256)
    assert(!Bpe.byteAlphabet.contains(' ') &&
      !Bpe.byteAlphabet.contains('▁'))
    // printable latin bytes keep themselves
    assert(Bpe.byteAlphabet('a'.toInt) === 'a')
    assert(Bpe.byteAlphabet(0xFF) === 'ÿ')
    val m = Seq(Bpe.Merge(1, "▁", "a", "▁a", 0L))
    val v = Bpe.byteVocab(m)
    assert(v.size === 258)
    assert(v.take(257).forall(_._3 == "char"))
    assert(v.last === ((257, "▁a", "merge")))
    // ids are dense and unique over the closed base
    assert(v.map(_._1) === (0 until 258))
  }

  test("streaming b07 twin: byte-fallback encode applies directly to " +
       "a stream and matches batch") {
    val docs = graft.core.Tables.documents(spark, SparkSpec.sfDir)
      .select("doc_id", "text")
    val m = Bpe.trainBytes(docs, "text", nMerges = 4)
    val batch = Bpe.encodeBytes(docs, "text", m)
      .select("doc_id", "n_tokens_b", "encoded_b")
      .as[(Long, Int, String)].collect().map(r => r._1 -> r).toMap
    val tmp = java.nio.file.Files.createTempDirectory("graftbpeb").toString
    docs.repartition(4).write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp)
    val buf = scala.collection.mutable.Map.empty[Long, (Long, Int, String)]
    val sink: (org.apache.spark.sql.DataFrame, Long) => Unit =
      (b, _) => buf.synchronized {
        buf ++= b.select("doc_id", "n_tokens_b", "encoded_b")
          .as[(Long, Int, String)].collect().map(r => r._1 -> r)
      }
    val q = graft.streaming.StreamingScore.bpeEncodeBytes(
        stream, "text", m)
      .writeStream.foreachBatch(sink).start()
    q.processAllAvailable(); q.stop()
    assert(buf.nonEmpty && buf.toMap === batch)
  }

  test("streaming production-encoder twin: mapPartitions encodeSp " +
       "applies directly to a stream and matches batch") {
    val docs = graft.core.Tables.documents(spark, SparkSpec.sfDir)
      .select("doc_id", "text")
    val m = Bpe.trainSp(docs, "text", nMerges = 4)
    val batch = Bpe.encodeSp(docs, "text", m)
      .select("doc_id", "n_tokens_sp", "encoded_sp")
      .as[(Long, Int, String)].collect().map(r => r._1 -> r).toMap
    val tmp = java.nio.file.Files.createTempDirectory("graftbpesp").toString
    docs.repartition(4).write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp)
    val buf = scala.collection.mutable.Map.empty[Long, (Long, Int, String)]
    val sink: (org.apache.spark.sql.DataFrame, Long) => Unit =
      (b, _) => buf.synchronized {
        buf ++= b.select("doc_id", "n_tokens_sp", "encoded_sp")
          .as[(Long, Int, String)].collect().map(r => r._1 -> r)
      }
    val q = graft.streaming.StreamingScore.bpeEncodeFast(
        stream, "text", m, sp = true)
      .writeStream.foreachBatch(sink).start()
    q.processAllAvailable(); q.stop()
    assert(buf.nonEmpty && buf.toMap === batch)
  }

  test("streaming b02 twin: direct stream application with a frozen " +
       "merge table matches batch") {
    val docs = graft.core.Tables.documents(spark, SparkSpec.sfDir)
      .select("doc_id", "text")
    val m = BpeOracle.train(docs, "text", nMerges = 4)
    val batch = BpeOracle.encode(docs, "text", m)
      .select("doc_id", "n_tokens_bpe", "encoded")
      .as[(Long, Int, String)].collect().map(r => r._1 -> r).toMap
    val tmp = java.nio.file.Files.createTempDirectory("graftbpe").toString
    docs.repartition(4).write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp)
    val buf = scala.collection.mutable.Map.empty[Long, (Long, Int, String)]
    val sink: (org.apache.spark.sql.DataFrame, Long) => Unit =
      (b, _) => buf.synchronized {
        buf ++= b.select("doc_id", "n_tokens_bpe", "encoded")
          .as[(Long, Int, String)].collect().map(r => r._1 -> r)
      }
    val q = graft.streaming.StreamingScore.bpeEncodeFast(stream, "text", m)
      .writeStream.foreachBatch(sink).start()
    q.processAllAvailable(); q.stop()
    assert(buf.nonEmpty && buf.toMap === batch)
  }

  test("unigram viterbi (b08): hand-computed segmentation totals, " +
       "tie prefers fewer pieces, OOV chars take the frozen penalty, " +
       "trainPieces inventory is deterministic with chars always kept") {
    import graft.text.Unigram
    val pieces = Seq(
      Unigram.Piece("ab", 100L, -0.1),
      Unigram.Piece("abab", 50L, -0.05),
      Unigram.Piece("a", 10L, -2.0),
      Unigram.Piece("b", 10L, -3.0))
    val r = Unigram.encodeViterbi(
        Seq((1L, "abab ab xq")).toDF("doc_id", "text"), "text", pieces)
      .select("n_words", "n_pieces", "logprob")
      .as[(Long, Long, Double)].head()
    // abab -> the single -0.05 piece beats ab+ab (-0.2); ab -> -0.1;
    // xq -> two unseen chars at -30 each
    assert(r._1 === 3L)
    assert(r._2 === 4L)
    assert(r._3 === -60.15)
    // exact score tie: aa (-2.0) vs a+a (-1.0 -1.0) -> fewer pieces win
    val tp = Seq(Unigram.Piece("aa", 1L, -2.0),
      Unigram.Piece("a", 1L, -1.0))
    val r2 = Unigram.encodeViterbi(
        Seq((1L, "aa")).toDF("doc_id", "text"), "text", tp)
      .select("n_pieces").as[Long].head()
    assert(r2 === 1L)
    // inventory: "aa ab aa" -> words aa(2), ab(1); counts a=5, b=1,
    // aa=2, ab=1 (every start of every occurrence); total 9
    val ps = Unigram.trainPieces(
      Seq((1L, "aa ab aa")).toDF("doc_id", "text"), "text", topK = 2)
    assert(ps.map(pp => pp.piece -> pp.cnt).toMap ===
      Map("a" -> 5L, "b" -> 1L, "aa" -> 2L, "ab" -> 1L))
    val expected = new java.math.BigDecimal(math.log(2.0 / 9.0))
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    assert(ps.find(_.piece == "aa").get.logp6 === expected)
    // chars survive any topK: with topK=0 the inventory is a,b only
    val charsOnly = Unigram.trainPieces(
      Seq((1L, "aa ab aa")).toDF("doc_id", "text"), "text", topK = 0)
    assert(charsOnly.map(_.piece).sorted === Seq("a", "b"))
  }
  test("wordpiece (b09): greedy longest-match, ##-continuations, " +
       "whole-word [UNK] on unseen chars and over-length words, " +
       "trainPieces splits initial vs continuation forms") {
    import graft.text.WordPiece
    val pieces = Seq(
      WordPiece.Piece("play", isCont = false, 10L),
      WordPiece.Piece("p", isCont = false, 10L),
      WordPiece.Piece("ing", isCont = true, 10L),
      WordPiece.Piece("i", isCont = true, 5L),
      WordPiece.Piece("n", isCont = true, 5L),
      WordPiece.Piece("g", isCont = true, 5L),
      WordPiece.Piece("l", isCont = true, 5L),
      WordPiece.Piece("a", isCont = true, 5L),
      WordPiece.Piece("y", isCont = true, 5L))
    val r = WordPiece.encode(
        Seq((1L, "playing play pxq verylongwordhere")).toDF("doc_id", "text"),
        "text", pieces)
      .select("n_words", "n_pieces", "n_unk")
      .as[(Long, Long, Long)].head()
    // playing -> play + ##ing (2); play -> play (1);
    // pxq -> p then no ##x -> [UNK] (1); 16-char word -> [UNK] (1)
    assert(r._1 === 4L)
    assert(r._2 === 5L)
    assert(r._3 === 2L)
    // continuation form is NOT usable word-initially: "ing" alone has
    // no initial 'i' piece -> [UNK]
    val r2 = WordPiece.encode(
        Seq((1L, "ing")).toDF("doc_id", "text"), "text", pieces)
      .select("n_unk").as[Long].head()
    assert(r2 === 1L)
    // inventory: "aa ab aa" -> initial substrings a(3), aa(2), ab(1);
    // continuation a(2), b(1)
    val ps = WordPiece.trainPieces(
      Seq((1L, "aa ab aa")).toDF("doc_id", "text"), "text", topK = 64)
    val byKey = ps.map(p => (p.core, p.isCont) -> p.cnt).toMap
    assert(byKey === Map(
      ("a", false) -> 3L, ("aa", false) -> 2L, ("ab", false) -> 1L,
      ("a", true) -> 2L, ("b", true) -> 1L))
    // greedy prefers the longest piece even when shorter pieces exist:
    // "playing" = play + ##ing (2 pieces), NOT p + ##l + ##a + ...
    val r3 = WordPiece.encode(
        Seq((1L, "playing")).toDF("doc_id", "text"), "text", pieces)
      .select("n_pieces").as[Long].head()
    assert(r3 === 2L)
  }

  test("streaming b09 twin: WordPiece encode applies directly to a " +
       "stream and matches batch") {
    import graft.text.WordPiece
    val docs = graft.core.Tables.documents(spark, SparkSpec.sfDir)
      .select("doc_id", "text")
    val pieces = WordPiece.trainPieces(docs, "text", topK = 16)
    val batch = WordPiece.encode(docs, "text", pieces)
      .select("doc_id", "n_words", "n_pieces", "n_unk")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val tmp = java.nio.file.Files.createTempDirectory("graftwp").toString
    docs.repartition(4).write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp)
    val buf = scala.collection.mutable.Map.empty[Long, (Long, Long, Long, Long)]
    val sink: (org.apache.spark.sql.DataFrame, Long) => Unit =
      (b, _) => buf.synchronized {
        buf ++= b.select("doc_id", "n_words", "n_pieces", "n_unk")
          .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r)
      }
    val q = graft.streaming.StreamingScore.wordPieceEncode(
        stream, "text", pieces)
      .writeStream.foreachBatch(sink).start()
    q.processAllAvailable(); q.stop()
    assert(buf.nonEmpty && buf.toMap === batch)
  }

  test("b10 fertility invariants: tokens partition the non-space " +
       "chars, so chars/token ≥ 1 and fertility = tokens/words; " +
       "hand-checked on a two-lang micro corpus") {
    val s = spark
    import s.implicits._
    // one merge forms 'ab': 'ab ab cd' -> tokens [ab, ab, c, d]
    val df = Seq((1L, "ab ab cd", "en"), (2L, "ab cd cd", "de"))
      .toDF("doc_id", "text", "lang")
    val m = BpeOracle.train(df, "text", nMerges = 1)
    assert(m.map(_.merged) === Seq("ab"))
    val enc = BpeOracle.encode(df, "text", m)
      .select(col("doc_id"), col("n_tokens_bpe")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // doc1: [ab][ab][c][d] = 4 tokens over 3 words, 6 chars
    // doc2: [ab][c][d][c][d] = 5 tokens over 3 words, 6 chars
    assert(enc(1L) === 4 && enc(2L) === 5)
    val fert = enc.map { case (id, t) =>
      val (w, c) = (3.0, 6.0)
      id -> ((t / w, c / t))
    }
    assert(fert(1L) === ((4.0 / 3.0, 1.5)))
    assert(fert(2L) === ((5.0 / 3.0, 1.2)))
    fert.values.foreach { case (_, cpt) => assert(cpt >= 1.0) }
  }
}
