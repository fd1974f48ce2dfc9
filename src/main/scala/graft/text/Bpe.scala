package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** In-engine BPE tokenizer training and encoding (beyond reference;
  * Sennrich et al. 2016 — the "train a tokenizer on the corpus" step
  * of every LLM data pipeline, usually punted to a single-node tool).
  *
  * Scale design — the whole point of doing this in Spark: the corpus
  * is touched ONCE (a word-count aggregation, map-side combinable);
  * every merge iteration then runs on the VOCABULARY frame (distinct
  * words + counts — orders of magnitude smaller than the corpus and
  * still distributed, so a 100M-type vocabulary from 100 TB of text
  * never funnels through the driver). Per merge: one map-side
  * adjacent-pair explode, one (left,right)-keyed sum agg, and a
  * TakeOrdered(1) argmax — the only driver state is the merge table
  * itself (the model, |merges| rows). Merge application is a map-side
  * string `replace` on the symbol column.
  *
  * Determinism / oracle parity: pair counts are INTEGERS (no float
  * drift anywhere); the argmax tie-breaks (count DESC, left ASC,
  * right ASC) on ASCII binary collation; greedy left-to-right
  * non-overlapping `replace` has identical semantics in the JVM and
  * DuckDB — so the whole trainer replays exactly in SQL (the k01
  * chained-iteration pattern, with integer rather than r6-rounded
  * re-entry).
  *
  * Symbol-sequence representation: every symbol is a unit ` s `
  * carrying its OWN leading and trailing space, units concatenated —
  * ` s1  s2  …  sn ` (double spaces between symbols). The merge
  * rewrite is then a pure string replace of ` l  r ` with ` lr `:
  * because each unit owns its separators, replacing a pair consumes
  * exactly the two units and leaves the neighbors' spaces intact, so
  * plain left-to-right non-overlapping `replace` reproduces reference
  * BPE exactly on repeated runs (" a  a  a  a  a " + merge (a,a) →
  * aa aa a). A single-shared-space encoding gets this WRONG — the
  * first replacement eats the separator the next match needs, giving
  * aa a aa — and the lookaround regex that fixes it (Sennrich's
  * `(?<!\S)l r(?!\S)`) does not exist in RE2, so the oracle could
  * never replay it. */
object Bpe {

  /** One trained merge: `rank` (1-based), the two joined symbols, the
    * pair's corpus frequency at election time. */
  final case class Merge(rank: Int, left: String, right: String,
                         merged: String, pairCount: Long)

  /** The ` s1  s2  … ` unit string of a word at character level. */
  private def charSyms(word: Column): Column =
    regexp_replace(word, "(.)", " $1 ")

  /** Adjacent symbol pairs of a symbol string, as (l, r) structs.
    * Guarded: a single-symbol word has no pairs — unguarded,
    * `sequence(0, size-2)` DESCENDS for size 1 and element_at(0)
    * throws. */
  private def pairsOf(sym: Column): Column = {
    val arr = filter(split(sym, " "), s => s =!= "")
    when(size(arr) >= 2,
      transform(sequence(lit(0), size(arr) - 2), j =>
        struct(element_at(arr, j + 1).as("l"),
          element_at(arr, j + 2).as("r"))))
      .otherwise(array().cast("array<struct<l:string,r:string>>"))
  }

  /** The distinct-word count frame (word, wcount) — the ONE pass over
    * the corpus both trainers share; materialized because every merge
    * iteration re-reads it. */
  private def wordCounts(df: DataFrame, text: String): DataFrame = df
    .select(explode(split(col(text), " ")).as("word"))
    .filter(col("word") =!= "")
    .groupBy(col("word")).agg(count(lit(1)).as("wcount"))
    .localCheckpoint()

  /** Train `nMerges` BPE merges over a whitespace-pretokenized text
    * column. Returns the merge table in rank order; stops early if the
    * corpus runs out of co-occurring pairs. `checkpointEvery`
    * truncates the symbol frame's lineage (each merge stacks one
    * `replace` — fine for tens of merges, a 32k-merge production run
    * needs periodic truncation exactly like k01/pageRank).
    *
    * ONE Spark job per merge — the right shape for the model-sized
    * merge counts the SQL oracle replays, but at a production 32k-merge
    * vocabulary 32k sequential jobs of fixed scheduling cost dominate
    * the wall; [[trainBatched]] is the production path (bit-identical
    * output by construction, spec-pinned). */
  def train(df: DataFrame, text: String, nMerges: Int,
            checkpointEvery: Int = 64): Seq[Merge] = {
    val words = wordCounts(df, text)
    var syms = words.select(charSyms(col("word")).as("sym"),
      col("wcount"))
    val merges = Seq.newBuilder[Merge]
    var rank = 1
    var exhausted = false
    while (rank <= nMerges && !exhausted) {
      val best = syms
        .select(explode(pairsOf(col("sym"))).as("p"), col("wcount"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("wcount")).as("cnt"))
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, c) = (best(0).getString(0), best(0).getString(1),
          best(0).getLong(2))
        merges += Merge(rank, l, r, l + r, c)
        syms = syms.withColumn("sym",
          call_function("replace", col("sym"), lit(s" $l  $r "),
            lit(s" $l$r ")))
        if (rank % checkpointEvery == 0) syms = syms.localCheckpoint()
        rank += 1
      }
    }
    merges.result()
  }

  /** Production trainer: identical output to [[train]] (spec-pinned,
    * and the b01p gate entry replays the b01 oracle over this path),
    * but each Spark job elects a BATCH of merges instead of one —
    * standard parallel-BPE with a conflict-free prefix rule that makes
    * the batching EXACT, not approximate:
    *
    *  1. One pair-count job collects the top `electBatch`+1 candidates
    *     (TakeOrdered — the same (cnt DESC, l, r) order the sequential
    *     argmax uses).
    *  2. The accepted batch is the maximal PREFIX of that order in
    *     which no pair interacts with an earlier one. Two pairs
    *     interact iff their symbol sets {l, r, l+r} intersect —
    *     sharing a component means one merge consumes the other's
    *     occurrences; producing the other's component (l+r) means one
    *     merge creates new occurrences of it.
    *  3. The prefix is truncated to pairs whose count is STRICTLY
    *     above the first non-accepted candidate's count (the
    *     sentinel). Every pair interacting with the batch sits at or
    *     below the sentinel in the sort (all pairs above it were
    *     accepted, and accepted pairs are mutually non-interacting),
    *     and a pair newly CREATED by applying batch member (l,r) has
    *     count bounded by an existing interacting pair's count
    *     ((x,l+r) occurrences each came from an (x,l) adjacency, and
    *     (x,l) shares a symbol with the applied pair, so it sits at or
    *     below the sentinel) — so after applying any batch prefix, the
    *     next sequential argmax is exactly the next batch member: same
    *     merges, same ranks, same counts as [[train]], including
    *     tie-breaks (strictness of the sentinel cut protects the
    *     (l,r) tie order).
    *  4. SELF-pairs (l == r) are the one case where a newly created
    *     pair's count is bounded only by the applied pair's OWN count,
    *     not by an interacting neighbor's (a run " l l l " rewrites to
    *     " ll l ", creating (ll,ll)/(ll,l) pairs that can outrank
    *     every later candidate) — so a self-pair always TERMINATES its
    *     batch: accepted first, it ships alone; encountered later, it
    *     becomes the sentinel and leads the next round.
    *  4b. A candidate whose l+r equals an ALREADY-EXISTING merged
    *     string (produced by an earlier round — duplicate-formable
    *     symbols) also terminates its batch the same way: applying it
    *     ADDS occurrences of (x, l+r) to occurrences that already
    *     exist in the corpus, and while each population is bounded by
    *     the sentinel, their SUM is not — a pair could leapfrog a
    *     later batch member and break bit-exactness. Shipped alone,
    *     the next election recounts the combined population, which is
    *     exactly the sequential semantics. (Within one batch the
    *     dirty-set check already catches this case.)
    *  5. All accepted merges apply in ONE chained rewrite.
    *
    * Worst case (every candidate interacts) degenerates to one merge
    * per job = [[train]]; English-like corpora accept tens of pairs
    * per batch, collapsing a 32k-merge run from 32k sequential jobs to
    * hundreds. The corpus is still touched once; elections still run
    * on the distributed vocabulary frame.
    *
    * `targetVocab` is the knob a training run actually specifies:
    * stop when reserved specials + base characters + merges reach it
    * (so the [[vocab]] built with `reservedCount` specials lands at
    * EXACTLY `targetVocab` entries, minus any duplicate-merged-string
    * gaps). One distinct-char count up front — the merge budget is a
    * subtraction, batching is unchanged, and the tighter of
    * (`nMerges`, the budget) wins. */
  def trainBatched(df: DataFrame, text: String, nMerges: Int,
                   electBatch: Int = 256,
                   checkpointEvery: Int = 64,
                   targetVocab: Option[Int] = None,
                   reservedCount: Int = 0): Seq[Merge] = {
    val nTarget = targetVocab.fold(nMerges) { tv =>
      val nChars = df
        .select(explode(split(col(text), "")).as("ch"))
        .filter(col("ch") =!= "" && col("ch") =!= " ")
        .distinct().count().toInt
      math.min(nMerges, math.max(0, tv - reservedCount - nChars))
    }
    val words = wordCounts(df, text)
    var syms = words.select(charSyms(col("word")).as("sym"),
      col("wcount"))
    val merges = Seq.newBuilder[Merge]
    // every merged string produced by a PRIOR round (rule 4b): a
    // candidate re-forming one of these must ship alone
    val producedAll = scala.collection.mutable.HashSet[String]()
    var rank = 1
    var exhausted = false
    var sinceCheckpoint = 0
    while (rank <= nTarget && !exhausted) {
      val top = syms
        .select(explode(pairsOf(col("sym"))).as("p"), col("wcount"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("wcount")).as("cnt"))
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(electBatch + 1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val cand = top.map(r =>
          (r.getString(0), r.getString(1), r.getLong(2)))
        // the (electBatch+1)-th row is only ever a sentinel
        val window = cand.take(electBatch)
        val dirty = scala.collection.mutable.HashSet[String]()
        val accepted = Seq.newBuilder[(String, String, Long)]
        var sentinel = // count of the first candidate NOT accepted
          if (cand.length > electBatch) Some(cand(electBatch)._3)
          else None
        var i = 0
        var stopped = false
        while (i < window.length && !stopped) {
          val (l, r, c) = window(i)
          val ss = Seq(l, r, l + r)
          val reForms = producedAll.contains(l + r) // rule 4b
          if (i > 0 && (l == r || reForms || ss.exists(dirty.contains))) {
            sentinel = Some(c)
            stopped = true
          } else {
            accepted += ((l, r, c))
            dirty ++= ss
            i += 1
            // self-pair (rule 4) / re-forming pair (rule 4b) ship alone
            if (l == r || reForms) stopped = true
          }
        }
        val batch0 = accepted.result()
        val batch = (batch0.take(1) ++ batch0.drop(1).takeWhile(p =>
          sentinel.forall(p._3 > _))).take(nTarget - rank + 1)
        val applied = batch.map { case (l, r, c) =>
          val m = Merge(rank, l, r, l + r, c)
          rank += 1
          m
        }
        merges ++= applied
        producedAll ++= applied.iterator.map(_.merged)
        syms = syms.withColumn("sym",
          applied.foldLeft(col("sym")) { (e, m) =>
            call_function("replace", e, lit(s" ${m.left}  ${m.right} "),
              lit(s" ${m.merged} "))
          })
        sinceCheckpoint += applied.length
        if (sinceCheckpoint >= checkpointEvery) {
          syms = syms.localCheckpoint()
          sinceCheckpoint = 0
        }
      }
    }
    merges.result()
  }

  /** Encode a text column with a trained merge table: every word's
    * character sequence is rewritten by the merges IN RANK ORDER (the
    * BPE apply contract — rank order, not best-pair-first, is the
    * standard fast encoder and matches how [[train]] built the table
    * on the training corpus itself). The merge table is model-sized
    * by contract, so it unrolls into a STATIC chain of `replace`
    * calls inside one per-word lambda — fully codegen'd, map-side,
    * zero shuffles, embarrassingly parallel at 100 TB. Merges never
    * cross word boundaries (`ws` separates words in the output).
    *
    * Emits `n_tokens_bpe` (INT) and `encoded` — words joined by
    * ` | `, each word its space-separated symbol sequence. */
  def encode(df: DataFrame, text: String, merges: Seq[Merge]): DataFrame = {
    val ordered = merges.sortBy(_.rank)
    def applyMerges(sym: Column): Column =
      ordered.foldLeft(sym) { (e, m) =>
        call_function("replace", e, lit(s" ${m.left}  ${m.right} "),
          lit(s" ${m.merged} "))
      }
    val encodedWords = transform(
      filter(split(col(text), " "), w => w =!= ""),
      w => call_function("replace", trim(applyMerges(charSyms(w))),
        lit("  "), lit(" ")))
    df.withColumn("_enc", encodedWords)
      .withColumn("n_tokens_bpe",
        aggregate(col("_enc"), lit(0), (acc, s) =>
          acc + size(split(s, " "))).cast("int"))
      .withColumn("encoded", array_join(col("_enc"), " | "))
      .drop("_enc")
  }

  /** A word's initial symbol list, replicating [[charSyms]]'s regex
    * semantics exactly: `(.)` matches one CODEPOINT (surrogate pairs
    * stay whole) and skips line terminators, so a run of terminator
    * chars is never space-wrapped and survives as ONE unmergeable
    * symbol (single-spaced in the unit string, no merge pattern can
    * touch it). */
  private def charSymbols(word: String): Array[String] = {
    def isTerm(cp: Int) = cp == '\n' || cp == '\r' || cp == 0x85 ||
      cp == 0x2028 || cp == 0x2029
    val out = Array.newBuilder[String]
    val run = new java.lang.StringBuilder
    var i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      val n = Character.charCount(cp)
      if (isTerm(cp)) run.appendCodePoint(cp)
      else {
        if (run.length > 0) { out += run.toString; run.setLength(0) }
        out += word.substring(i, i + n)
      }
      i += n
    }
    if (run.length > 0) out += run.toString
    out.result()
  }

  /** One word through the merge table by greedy lowest-rank-first
    * merging — the standard fast-BPE encoder. Equivalent to the
    * rank-ordered replace chain (spec-pinned): a merge's components
    * are themselves chars or lower-rank merges, so any adjacency a
    * merge can consume exists by the time its rank comes up in either
    * order; within one rank, all occurrences merge left-to-right
    * non-overlapping in both. Work per word is O(len²) HASH LOOKUPS
    * independent of |merges| — vs the replace chain's O(|merges|·len)
    * and its janino 64 KB method blowup at real vocabulary sizes.
    * Line-terminator run symbols never merge (their single-space
    * representation in the chain path means no ` l  r ` pattern ever
    * matches them). */
  private def encodeWordFast(word: String,
                             ranks: java.util.HashMap[String, Integer])
      : Array[String] = {
    var syms = scala.collection.mutable.ArrayBuffer.empty[String]
    syms ++= charSymbols(word)
    def mergeable(s: String) = {
      val c = s.charAt(0).toInt
      !(c == 10 || c == 13 || c == 0x85 || c == 0x2028 || c == 0x2029)
    }
    var done = syms.length < 2
    while (!done) {
      // lowest-rank adjacent pair present in the table
      var best = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        if (mergeable(syms(i)) && mergeable(syms(i + 1))) {
          val r = ranks.get(syms(i) + " " + syms(i + 1))
          if (r != null && r < best) best = r
        }
        i += 1
      }
      if (best == Int.MaxValue) done = true
      else {
        // merge ALL its occurrences, left-to-right non-overlapping
        val next = scala.collection.mutable.ArrayBuffer.empty[String]
        var j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 && mergeable(syms(j)) &&
              mergeable(syms(j + 1)) && {
                val r = ranks.get(syms(j) + " " + syms(j + 1))
                r != null && r == best
              }) {
            next += syms(j) + syms(j + 1)
            j += 2
          } else {
            next += syms(j)
            j += 1
          }
        }
        syms = next
        if (syms.length < 2) done = true
      }
    }
    syms.toArray
  }

  /** [[encode]] at the PRODUCTION operating point: same output
    * bit-for-bit (spec-pinned; the b02p gate entry replays the b02
    * oracle over this path), but the merge table ships as a broadcast
    * rank map and each word runs the [[encodeWordFast]] greedy scan
    * inside one `mapPartitions` pass — no 32k-deep expression chain,
    * no janino method-size cliff, per-word cost independent of
    * |merges|. Still map-side, zero shuffles, embarrassingly parallel;
    * use this for large frozen merge tables, [[encode]] for the
    * model-sized oracle-replayable ones. */
  def encodeFast(df: DataFrame, text: String,
                 merges: Seq[Merge]): DataFrame = {
    requireRankConsistent(merges)
    val spark = df.sparkSession
    val rankMap = new java.util.HashMap[String, Integer](
      math.max(16, merges.size * 2))
    merges.foreach(m =>
      rankMap.put(m.left + " " + m.right, Integer.valueOf(m.rank)))
    val bc = spark.sparkContext.broadcast(rankMap)
    val ti = df.schema.fieldIndex(text)
    val outSchema = df.schema
      .add("n_tokens_bpe", org.apache.spark.sql.types.IntegerType)
      .add("encoded", org.apache.spark.sql.types.StringType)
    df.mapPartitions { rows =>
      val ranks = bc.value
      val cache = newWordCache()
      rows.map { row =>
        val t = row.getString(ti)
        val words =
          if (t == null) Array.empty[String]
          else t.split(" ").filter(_.nonEmpty)
        val enc = words.map(w => cachedEncode(w, ranks, cache))
        val nTok = enc.iterator.map(_.length).sum
        org.apache.spark.sql.Row.fromSeq(
          row.toSeq :+ nTok :+ enc.map(_.mkString(" ")).mkString(" | "))
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Greedy-scan ≡ rank-ordered-chain holds ONLY for RANK-CONSISTENT
    * tables: no merge's component may be the OUTPUT of a later-rank
    * merge — checked against EVERY rank that can form the component,
    * not just the earliest. The same merged string can be formable at
    * several ranks (e.g. (a,bc)→abc at rank 3 AND (ab,c)→abc at
    * rank 5); a use at rank 4 then straddles them: on an input where
    * `abc` only assembles via the rank-5 route, the chain has already
    * passed rank 4 and never applies it, while the greedy scan forms
    * `abc` and happily merges — silently different tokens. So a
    * component is only safe when its MAXIMUM forming rank precedes
    * the using merge. (Components formable by NO merge at all —
    * single chars or dead entries — are fine: they match identically,
    * or never, in both paths.) Fail loudly instead.
    * O(|merges|) hash probes, once per encode call. */
  def isRankConsistent(merges: Seq[Merge]): Boolean =
    firstStraddle(merges).isEmpty

  /** The first (using-merge, component, later-forming-rank) violation,
    * if any — shared by the boolean probe and the loud guard. */
  private def firstStraddle(merges: Seq[Merge])
      : Option[(Merge, String, Int)] = {
    val maxFormingRank = new java.util.HashMap[String, Integer]()
    merges.foreach { m =>
      val prev = maxFormingRank.get(m.merged)
      if (prev == null || prev < m.rank)
        maxFormingRank.put(m.merged, Integer.valueOf(m.rank))
    }
    merges.iterator.flatMap { m =>
      Seq(m.left, m.right).iterator.flatMap { c =>
        val r = maxFormingRank.get(c)
        if (r != null && r > m.rank) Some((m, c, r.intValue())) else None
      }
    }.nextOption()
  }

  private def requireRankConsistent(merges: Seq[Merge]): Unit =
    firstStraddle(merges).foreach { case (m, c, r) =>
      throw new IllegalArgumentException(
        s"merge table is not rank-consistent: rank ${m.rank} uses " +
          s"component '$c', which is also FORMED by the later rank " +
          s"$r — the linear-scan encoder and the rank-ordered chain " +
          "would diverge on such a table; use the rank-ordered " +
          "Bpe.encode chain for it, or re-export it from " +
          "Bpe.train/trainBatched")
    }

  /** Per-task word→encoding cache (the fastBPE/HF-tokenizers token
    * cache): natural corpora are Zipf-distributed, so the hit rate is
    * near-total and per-word work amortizes to a hash probe. Bounded —
    * cleared when it reaches 100k entries — so a pathological
    * all-unique-words corpus can't grow task memory. */
  private def newWordCache() =
    new java.util.HashMap[String, Array[String]](1 << 12)

  private def cachedEncode(w: String,
                           ranks: java.util.HashMap[String, Integer],
                           cache: java.util.HashMap[String, Array[String]])
      : Array[String] = {
    val hit = cache.get(w)
    if (hit != null) hit
    else {
      val e = encodeWordFast(w, ranks)
      if (cache.size >= 100000) cache.clear()
      cache.put(w, e)
      e
    }
  }

  /** One word through the merges IN RANK ORDER — the pinned chain
    * semantics ([[encode]]'s replace chain) on the JVM side, for
    * rank-straddling tables where the greedy scan's equivalence
    * contract does not hold. Each merge consumes all its adjacencies
    * left-to-right non-overlapping, exactly like the ` l  r ` string
    * replace. O(|merges|·len) — the fallback's price; consistent
    * tables (every trainer output in practice) take the greedy
    * scan. */
  private def encodeWordChain(word: String,
                              ordered: Array[Merge]): Array[String] = {
    var syms = scala.collection.mutable.ArrayBuffer.empty[String]
    syms ++= charSymbols(word)
    def mergeable(s: String) = {
      val c = s.charAt(0).toInt
      !(c == 10 || c == 13 || c == 0x85 || c == 0x2028 || c == 0x2029)
    }
    var mi = 0
    while (mi < ordered.length && syms.length > 1) {
      val m = ordered(mi)
      val next = scala.collection.mutable.ArrayBuffer.empty[String]
      var j = 0
      while (j < syms.length) {
        if (j < syms.length - 1 && syms(j) == m.left &&
            syms(j + 1) == m.right && mergeable(syms(j)) &&
            mergeable(syms(j + 1))) {
          next += m.merged
          j += 2
        } else {
          next += syms(j)
          j += 1
        }
      }
      syms = next
      mi += 1
    }
    syms.toArray
  }

  private def cachedEncodeChain(w: String, ordered: Array[Merge],
      cache: java.util.HashMap[String, Array[String]])
      : Array[String] = {
    val hit = cache.get(w)
    if (hit != null) hit
    else {
      val e = encodeWordChain(w, ordered)
      if (cache.size >= 100000) cache.clear()
      cache.put(w, e)
      e
    }
  }

  /** Sentencepiece-style word marking (b05): every word gets a ▁
    * (U+2581) prefix — including a synthetic leading one — so word
    * boundaries live IN the symbol stream and encoded text
    * detokenizes by pure concatenation. Runs of spaces round-trip
    * exactly: each space becomes one bare-▁ "word". Input contract:
    * the text carries no literal ▁ (true of any natural corpus; ▁ is
    * a block-drawing character chosen for exactly that reason). */
  def markWords(text: Column): Column =
    concat(lit("▁"), regexp_replace(text, " ", " ▁"))

  /** Train on the ▁-marked corpus: identical mechanics to
    * [[trainBatched]], with the marker as an ordinary character. The
    * marker keeps merges word-local even on a CONCATENATED encode
    * stream: ▁ appears only word-initially, so no trained pair's
    * right component can start with ▁ (that would need a
    * word-internal ▁ adjacency), while every cross-word adjacency has
    * a ▁-initial right side — no trained merge can ever bridge it. */
  def trainSp(df: DataFrame, text: String, nMerges: Int,
              electBatch: Int = 256): Seq[Merge] =
    trainBatched(df.select(markWords(col(text)).as("_sp")), "_sp",
      nMerges, electBatch)

  /** Encode with word markers: the marked words run the
    * [[encodeWordFast]] greedy scan and ALL symbols join into one
    * space-separated stream — no `|` separator needed, the ▁s carry
    * the boundaries. Emits `n_tokens_sp` / `encoded_sp`;
    * [[decodeSp]] inverts it exactly. */
  def encodeSp(df: DataFrame, text: String,
               merges: Seq[Merge]): DataFrame = {
    requireRankConsistent(merges)
    val spark = df.sparkSession
    val rankMap = new java.util.HashMap[String, Integer](
      math.max(16, merges.size * 2))
    merges.foreach(m =>
      rankMap.put(m.left + " " + m.right, Integer.valueOf(m.rank)))
    val bc = spark.sparkContext.broadcast(rankMap)
    val ti = df.schema.fieldIndex(text)
    val outSchema = df.schema
      .add("n_tokens_sp", org.apache.spark.sql.types.IntegerType)
      .add("encoded_sp", org.apache.spark.sql.types.StringType)
    df.mapPartitions { rows =>
      val ranks = bc.value
      val cache = newWordCache()
      rows.map { row =>
        val t = row.getString(ti)
        val words =
          if (t == null) Array.empty[String]
          else ("▁" + t.replace(" ", " ▁"))
            .split(" ").filter(_.nonEmpty)
        val enc = words.flatMap(w => cachedEncode(w, ranks, cache))
        org.apache.spark.sql.Row.fromSeq(
          row.toSeq :+ enc.length :+ enc.mkString(" "))
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Tokenizer-feed INTEGER ids for the ▁-marker form (b06): the
    * [[encodeSp]] stream mapped through a vocabulary built on the
    * MARKED corpus (▁ is an ordinary base character there, so
    * word-initial symbols get their own ids — exactly how
    * sentencepiece vocabularies look). No boundary elision needed:
    * the ▁s ARE the boundaries, so `pos` is simply the symbol
    * position. */
  def encodeIdsSp(df: DataFrame, id: String, text: String,
                  merges: Seq[Merge],
                  vocab: Seq[(Int, String, String)]): DataFrame = {
    val vmap = typedLit(vocab.map(v => v._2 -> v._1).toMap)
    encodeSp(df, text, merges)
      .select(col(id), posexplode(filter(
        split(col("encoded_sp"), " "), s => s =!= ""))
        .as(Seq("pos", "symbol")))
      .withColumn("token_id", element_at(vmap, col("symbol")))
  }

  /** Exact inverse of [[encodeSp]]'s stream: drop the inter-symbol
    * spaces, turn each ▁ back into a space, drop the synthetic
    * leading one. `decodeSp(encodeSp(x)) == x` for any x without
    * literal ▁ (round-trip spec-pinned, including space runs and
    * leading/trailing spaces). */
  def decodeSp(encoded: Column): Column = {
    val joined = translate(encoded, "▁ ", " ")
    joined.substr(lit(2), length(joined))
  }

  /** The tokenizer vocabulary induced by a training corpus and its
    * merge table: base characters first (sorted, ids 0..C−1 — the
    * deterministic convention), then merged symbols in rank order
    * (ids C..C+N−1). Two different merges can yield the SAME merged
    * string (e.g. (a,bc) and (ab,c) both → "abc"); the duplicate keeps
    * its FIRST (minimum) id and later copies are dropped — so the
    * symbol→id map is well-defined and the SQL oracle's vocab join
    * (which applies the same min-id dedup) never fans out. Ids keep
    * their positional values (a dropped duplicate leaves a gap).
    * Alphabet-sized by contract — the only collect.
    *
    * `reserved` prepends SPECIAL tokens (`<pad>/<bos>/<eos>/<unk>`,
    * caller-supplied, caller-ordered) at ids 0..R−1 with base chars
    * and merges shifted by R — the artifact contract every downstream
    * packer and trainer specifies (eos/pad ids are configuration, not
    * corpus facts, so they come first and never move when the corpus
    * grows the alphabet). A corpus symbol that happens to equal a
    * special token's string resolves to the special id (min-id dedup,
    * the sentencepiece user-defined-symbol behavior). */
  def vocab(df: DataFrame, text: String, merges: Seq[Merge],
            reserved: Seq[String] = Nil): Seq[(Int, String, String)] = {
    val chars = df
      .select(explode(split(col(text), "")).as("ch"))
      .filter(col("ch") =!= "" && col("ch") =!= " ")
      .distinct().collect().map(_.getString(0)).sorted
    val r = reserved.zipWithIndex.map { case (t, i) => (i, t, "special") }
    val off = reserved.length
    val base = chars.zipWithIndex.map { case (c, i) =>
      (off + i, c, "char") }
    val m = merges.sortBy(_.rank).zipWithIndex.map { case (mg, i) =>
      (off + chars.length + i, mg.merged, "merge") }
    val seen = scala.collection.mutable.HashSet[String]()
    (r ++ base ++ m).filter { case (_, sym, _) => seen.add(sym) }.toSeq
  }

  /** Tokenizer-feed-ready INTEGER id sequences: [[encode]] then map
    * every symbol through the model-sized vocabulary (a `typedLit`
    * map literal — broadcast-free, codegen'd, still zero shuffles).
    * Emitted EXPLODED as (id, pos, symbol, token_id) — the shape
    * sequence packers and feature stores consume; `pos` is the 0-based
    * symbol position with word boundaries elided. A symbol outside the
    * vocabulary (encoding a corpus the tokenizer never saw, with
    * characters outside the base set) yields a NULL token_id — the
    * caller's OOV policy owns it. */
  def encodeIds(df: DataFrame, id: String, text: String,
                merges: Seq[Merge],
                vocab: Seq[(Int, String, String)],
                fast: Boolean = false): DataFrame = {
    val vmap = typedLit(vocab.map(v => v._2 -> v._1).toMap)
    // `fast` routes through the production linear-scan encoder —
    // spec-pinned identical output, required once the merge table
    // outgrows the replace chain's janino ceiling
    val enc = if (fast) encodeFast(df, text, merges)
              else encode(df, text, merges)
    enc
      // drop word separators AND the empty symbol an empty/whitespace-
      // only document splits to — otherwise it lands as a spurious
      // NULL-token_id row and inflates coverageReport's OOV mass
      .select(col(id), posexplode(filter(
        split(col("encoded"), " "), s => s =!= "|" && s =!= ""))
        .as(Seq("pos", "symbol")))
      .withColumn("token_id", element_at(vmap, col("symbol")))
  }

  /** Tokenizer coverage report (b04): encode a corpus with a FROZEN
    * tokenizer and measure per-document out-of-vocabulary mass — the
    * standard "does my tokenizer cover this data" card run before
    * committing to a training mix (a vocabulary trained on English
    * prose meeting code or another script shows up here first). A
    * symbol is OOV iff it maps to no vocabulary id (with character
    * fallback that means characters the training corpus never saw).
    * One map-side encode + one doc-keyed agg. */
  def coverageReport(df: DataFrame, id: String, text: String,
                     merges: Seq[Merge],
                     vocab: Seq[(Int, String, String)],
                     fast: Boolean = false): DataFrame =
    encodeIds(df, id, text, merges, vocab, fast)
      .groupBy(col(id))
      .agg(count(lit(1)).cast("long").as("n_tokens_bpe"),
        sum(when(col("token_id").isNull, 1).otherwise(0)).cast("long")
          .as("n_oov"))
      .withColumn("oov_ratio",
        round(col("n_oov") / col("n_tokens_bpe"), 6))

  // ── byte-fallback mode (b07): the zero-OOV production tokenizer ──

  /** The byte-fallback alphabet: each of the 256 byte values maps to
    * one printable, non-space BMP character — bytes that are already
    * printable latin keep themselves ('!'..'~', '¡'..'¬', '®'..'ÿ');
    * the remaining 68 take consecutive codepoints from U+0100 up (the
    * GPT-2 byte-to-unicode construction, public since the GPT-2
    * release; sentencepiece's `byte_fallback` is the same idea).
    * Tokenizing at the BYTE level over this alphabet makes every
    * UTF-8 string encodable with ZERO out-of-vocabulary mass: the
    * base alphabet is CLOSED (exactly 256 symbols, all reachable),
    * unlike the char-level mode where an unseen character is a
    * permanent OOV (the mass b04 measures). A fixed 256-entry table,
    * so the SQL oracle replays it as a literal map. */
  val byteAlphabet: IndexedSeq[Char] = {
    val keep = ((33 to 126) ++ (161 to 172) ++ (174 to 255)).toSet
    val out = new Array[Char](256)
    var next = 256
    (0 until 256).foreach { b =>
      if (keep(b)) out(b) = b.toChar
      else { out(b) = next.toChar; next += 1 }
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }

  /** Inverse of [[byteAlphabet]]: surrogate char → byte value, −1 for
    * any char outside the alphabet (the 68 non-printable bytes take
    * U+0100..U+0143; the array is sized to the alphabet's max). */
  private val byteOfChar: Array[Int] = {
    val out = Array.fill(byteAlphabet.max.toInt + 1)(-1)
    (0 until 256).foreach(b => out(byteAlphabet(b)) = b)
    out
  }

  /** Byte-premap a text: every UTF-8 byte becomes its surrogate char,
    * except the space byte 0x20, which stays a literal space — here
    * spaces are word SEPARATORS (the ▁ marker carries them into the
    * symbol stream exactly like [[markWords]]), and no multi-byte
    * UTF-8 sequence contains a 0x20 byte, so the pass-through never
    * misfires inside a character. Distributes over concatenation, so
    * premapping the whole text ≡ premapping each word. */
  def premapBytes(t: String): String = {
    val bs = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val sb = new java.lang.StringBuilder(bs.length)
    var i = 0
    while (i < bs.length) {
      val b = bs(i) & 0xff
      sb.append(if (b == 0x20) ' ' else byteAlphabet(b))
      i += 1
    }
    sb.toString
  }

  /** The ▁-marked, byte-premapped training frame: one `_sp` column,
    * `▁w1 ▁w2 …` with every word's bytes surrogate-mapped. Stateless
    * `mapPartitions` (a per-row byte walk has no Column equivalent —
    * UTF-8 expansion is not char-to-char). */
  private def byteMarkedFrame(df: DataFrame, text: String): DataFrame = {
    val ti = df.schema.fieldIndex(text)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("_sp", org.apache.spark.sql.types.StringType)
    df.mapPartitions { rows =>
      rows.map { row =>
        val t = row.getString(ti)
        org.apache.spark.sql.Row(
          if (t == null) null
          else "▁" + premapBytes(t).replace(" ", " ▁"))
      }
    }(org.apache.spark.sql.Encoders.row(schema))
  }

  /** Train in byte-fallback mode: [[trainBatched]] over the marked,
    * premapped corpus — the marker and every surrogate are ordinary
    * characters to the trainer, so all the batching/exactness
    * machinery (and the b01 oracle pattern) applies unchanged. The ▁
    * word-locality invariant holds for the same reason as [[trainSp]]:
    * ▁ appears only word-initially in the training frame. */
  def trainBytes(df: DataFrame, text: String, nMerges: Int,
                 electBatch: Int = 256): Seq[Merge] =
    trainBatched(byteMarkedFrame(df, text), "_sp", nMerges, electBatch)

  /** Encode in byte-fallback mode: [[encodeSp]]'s greedy-scan
    * mapPartitions over the marked PREMAPPED words, emitting one
    * concatenated symbol stream (`n_tokens_b` / `encoded_b`).
    * [[decodeBytes]] inverts it byte-exactly for ANY input — there is
    * no OOV and no lossy step anywhere. Map-side, zero shuffles,
    * stateless (streaming-safe). Rank-straddling tables fall back to
    * the per-word rank-ordered chain (the pinned semantics) instead
    * of hard-failing the serving path. */
  def encodeBytes(df: DataFrame, text: String,
                  merges: Seq[Merge]): DataFrame = {
    // rank-straddling tables (rare but legal trainer output) are
    // outside the greedy scan's equivalence contract; instead of
    // hard-failing the serving/streaming path, route each word
    // through the rank-ordered chain — the pinned semantics — like
    // the Cli batch-encode path does for char mode
    val consistent = isRankConsistent(merges)
    val spark = df.sparkSession
    val rankMap = new java.util.HashMap[String, Integer](
      math.max(16, merges.size * 2))
    merges.foreach(m =>
      rankMap.put(m.left + " " + m.right, Integer.valueOf(m.rank)))
    val bc = spark.sparkContext.broadcast(rankMap)
    val bcOrdered = spark.sparkContext.broadcast(
      if (consistent) Array.empty[Merge]
      else merges.sortBy(_.rank).toArray)
    val ti = df.schema.fieldIndex(text)
    val outSchema = df.schema
      .add("n_tokens_b", org.apache.spark.sql.types.IntegerType)
      .add("encoded_b", org.apache.spark.sql.types.StringType)
    df.mapPartitions { rows =>
      val ranks = bc.value
      val ordered = bcOrdered.value
      val cache = newWordCache()
      val enc1: String => Array[String] =
        if (consistent) w => cachedEncode(w, ranks, cache)
        else w => cachedEncodeChain(w, ordered, cache)
      rows.map { row =>
        val t = row.getString(ti)
        val words =
          if (t == null) Array.empty[String]
          else ("▁" + premapBytes(t).replace(" ", " ▁"))
            .split(" ").filter(_.nonEmpty)
        val enc = words.flatMap(enc1)
        org.apache.spark.sql.Row.fromSeq(
          row.toSeq :+ enc.length :+ enc.mkString(" "))
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Exact inverse of [[encodeBytes]]'s stream: skip the inter-symbol
    * spaces, map ▁ to the space byte and every surrogate char back to
    * its byte, UTF-8-decode the byte run, drop the synthetic leading
    * space. `decodeBytes(encodeBytes(x)) == x` for EVERY string —
    * space runs, astral-plane characters, characters the training
    * corpus never saw (property spec-pinned). */
  def decodeBytes(enc: String): String = {
    val out = new java.io.ByteArrayOutputStream(enc.length)
    var i = 0
    while (i < enc.length) {
      val c = enc.charAt(i)
      if (c == ' ') () // symbol separator, not content
      else if (c == '▁') out.write(0x20)
      else {
        val b = if (c.toInt < byteOfChar.length) byteOfChar(c.toInt)
                else -1
        require(b >= 0,
          s"'$c' (U+${Integer.toHexString(c.toInt)}) is not a " +
            "byte-alphabet symbol character — not an encodeBytes stream")
        out.write(b)
      }
      i += 1
    }
    val s = new String(out.toByteArray,
      java.nio.charset.StandardCharsets.UTF_8)
    if (s.nonEmpty && s.charAt(0) == ' ') s.substring(1) else s
  }

  /** [[decodeBytes]] over a frame column (round-trip checks and
    * detokenization sinks); stateless mapPartitions. */
  def decodeBytesFrame(df: DataFrame, enc: String): DataFrame = {
    val ti = df.schema.fieldIndex(enc)
    val outSchema = df.schema
      .add("decoded_b", org.apache.spark.sql.types.StringType)
    df.mapPartitions { rows =>
      rows.map { row =>
        val e = row.getString(ti)
        org.apache.spark.sql.Row.fromSeq(row.toSeq :+
          (if (e == null) null else decodeBytes(e)))
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Byte-mode vocabulary: the CLOSED base alphabet — all 256
    * surrogates plus the ▁ marker, sorted (ids 0..256) — then merges
    * in rank order, with [[vocab]]'s min-id dedup. No corpus scan:
    * the base set does not depend on the data, which is the whole
    * point of byte fallback. */
  def byteVocab(merges: Seq[Merge],
                reserved: Seq[String] = Nil): Seq[(Int, String, String)] = {
    val r = reserved.zipWithIndex.map { case (t, i) => (i, t, "special") }
    val off = reserved.length
    val base = (byteAlphabet :+ '▁').map(_.toString).sorted
      .zipWithIndex.map { case (c, i) => (off + i, c, "char") }
    val m = merges.sortBy(_.rank).zipWithIndex.map { case (mg, i) =>
      (off + base.length + i, mg.merged, "merge") }
    val seen = scala.collection.mutable.HashSet[String]()
    (r ++ base ++ m).filter { case (_, sym, _) => seen.add(sym) }.toSeq
  }

  /** Byte-mode id sequences: [[encodeBytes]] exploded through the
    * byte vocabulary — every symbol resolves (token_id is never NULL
    * when `vocab` is [[byteVocab]] of the same merges). */
  def encodeIdsBytes(df: DataFrame, id: String, text: String,
                     merges: Seq[Merge],
                     vocab: Seq[(Int, String, String)]): DataFrame = {
    val vmap = typedLit(vocab.map(v => v._2 -> v._1).toMap)
    encodeBytes(df, text, merges)
      .select(col(id), posexplode(filter(
        split(col("encoded_b"), " "), s => s =!= ""))
        .as(Seq("pos", "symbol")))
      .withColumn("token_id", element_at(vmap, col("symbol")))
  }

  /** [[coverageReport]] in byte mode (b07): by construction the OOV
    * mass is ZERO on any corpus — the card that certifies a frozen
    * byte-level tokenizer covers arbitrary drifted data. */
  def coverageReportBytes(df: DataFrame, id: String, text: String,
                          merges: Seq[Merge],
                          vocab: Seq[(Int, String, String)]): DataFrame =
    encodeIdsBytes(df, id, text, merges, vocab)
      .groupBy(col(id))
      .agg(count(lit(1)).cast("long").as("n_tokens_b"),
        sum(when(col("token_id").isNull, 1).otherwise(0)).cast("long")
          .as("n_oov"))
      .withColumn("oov_ratio",
        round(col("n_oov") / col("n_tokens_b"), 6))
}
