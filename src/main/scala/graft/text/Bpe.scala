package graft.text

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructType}

/** In-engine BPE tokenizer training and encoding (beyond reference;
  * Sennrich et al. 2016 — the "train a tokenizer on the corpus" step
  * of every LLM data pipeline, usually punted to a single-node tool).
  *
  * Training ([[trainBatched]]) — the whole point of doing this in
  * Spark: the corpus is touched ONCE (a word-count aggregation,
  * map-side combinable); every merge election then runs on the
  * VOCABULARY frame (distinct words + counts — orders of magnitude
  * smaller than the corpus and still distributed, so a 100M-type
  * vocabulary from 100 TB of text never funnels through the driver).
  * Per election: one map-side adjacent-pair explode, one
  * (left,right)-keyed sum agg, and a TakeOrdered top-k — the only
  * driver state is the merge table itself (the model, |merges| rows).
  * Merge application is a map-side string `replace` on the symbol
  * column.
  *
  * Determinism / oracle parity: pair counts are INTEGERS (no float
  * drift anywhere); the election tie-breaks (count DESC, left ASC,
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
  * never replay it.
  *
  * Encoding: the pinned semantics is the rank-ordered replace chain
  * (every merge, in rank order, over each word's unit string — what
  * the SQL oracle replays). All three encoders ([[encodeFast]] char
  * level, [[encodeSp]] ▁-marked, [[encodeBytes]] byte fallback) are
  * configurations of ONE `mapPartitions` loop ([[encodeWith]]): a
  * broadcast merge table, a per-task word cache, and one
  * rank-straddle rule — the greedy lowest-rank-first scan when the
  * table [[isRankConsistent]] (where it equals the chain, and costs
  * per word independent of |merges|), the per-word chain itself
  * otherwise. */
object Bpe {

  /** One trained merge: `rank` (1-based), the two joined symbols, the
    * pair's corpus frequency at election time. */
  final case class Merge(rank: Int, left: String, right: String,
                         merged: String, pairCount: Long)

  /** The ` s1  s2  … ` unit string of a word at character level. */
  private[graft] def charSyms(word: Column): Column =
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

  /** The (sym, wcount) frame every election runs on: the distinct
    * words of a whitespace-pretokenized text column with their counts,
    * each as its char-level unit string — the ONE pass over the
    * corpus, materialized because every election re-reads it. */
  private[graft] def wordSyms(df: DataFrame, text: String): DataFrame =
    df.select(explode(split(col(text), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("wcount"))
      .localCheckpoint()
      .select(charSyms(col("word")).as("sym"), col("wcount"))

  /** The top `n` adjacent pairs of a symbol frame as (l, r, count), in
    * the (count DESC, l, r) election order. */
  private[graft] def electTop(syms: DataFrame,
                              n: Int): Array[(String, String, Long)] =
    syms
      .select(explode(pairsOf(col("sym"))).as("p"), col("wcount"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("wcount")).as("cnt"))
      .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
      .limit(n).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))

  /** A unit string rewritten by `merges` in the given order: one
    * ` l  r ` → ` lr ` replace per merge. */
  private[graft] def applyChain(sym: Column, merges: Seq[Merge]): Column =
    merges.foldLeft(sym) { (e, m) =>
      call_function("replace", e, lit(s" ${m.left}  ${m.right} "),
        lit(s" ${m.merged} "))
    }

  /** The corpus's base characters (every char but the space), sorted —
    * the alphabet-sized scan [[vocab]] numbers and [[trainBatched]]'s
    * `targetVocab` budget subtracts. */
  private def baseChars(df: DataFrame, text: String): Array[String] =
    df.select(explode(split(col(text), "")).as("ch"))
      .filter(col("ch") =!= "" && col("ch") =!= " ")
      .distinct().collect().map(_.getString(0)).sorted

  /** The trainer: merges elected in rank order over a
    * whitespace-pretokenized text column, stopping early if the corpus
    * runs out of co-occurring pairs. The sequential reference — one
    * argmax election per merge — is what the SQL oracle replays; each
    * Spark job here elects a BATCH of merges instead, with a
    * conflict-free prefix rule that makes the batching EXACT, not
    * approximate (bit-identical to the sequential greedy, spec-pinned;
    * the b01p gate entry forces multi-round batching):
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
    *     merges, same ranks, same counts as the sequential greedy,
    *     including tie-breaks (strictness of the sentinel cut protects
    *     the (l,r) tie order).
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
    * per job; English-like corpora accept tens of pairs per batch,
    * collapsing a 32k-merge run from 32k sequential jobs to hundreds.
    * `checkpointEvery` truncates the symbol frame's lineage (each
    * merge stacks one `replace`).
    *
    * `targetVocab` is the knob a training run actually specifies:
    * stop when reserved specials + base characters + merges reach it
    * (so the [[vocab]] built with `reservedCount` specials lands at
    * EXACTLY `targetVocab` entries, minus any duplicate-merged-string
    * gaps). One distinct-char scan up front — the merge budget is a
    * subtraction, batching is unchanged, and the tighter of
    * (`nMerges`, the budget) wins. */
  def trainBatched(df: DataFrame, text: String, nMerges: Int,
                   electBatch: Int = 256,
                   checkpointEvery: Int = 64,
                   targetVocab: Option[Int] = None,
                   reservedCount: Int = 0): Seq[Merge] = {
    val nTarget = targetVocab.fold(nMerges) { tv =>
      math.min(nMerges,
        math.max(0, tv - reservedCount - baseChars(df, text).length))
    }
    var syms = wordSyms(df, text)
    val merges = Seq.newBuilder[Merge]
    // every merged string produced by a PRIOR round (rule 4b): a
    // candidate re-forming one of these must ship alone
    val producedAll = scala.collection.mutable.HashSet[String]()
    var rank = 1
    var exhausted = false
    var sinceCheckpoint = 0
    while (rank <= nTarget && !exhausted) {
      val cand = electTop(syms, electBatch + 1)
      if (cand.isEmpty) exhausted = true
      else {
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
        syms = syms.withColumn("sym", applyChain(col("sym"), applied))
        sinceCheckpoint += applied.length
        if (sinceCheckpoint >= checkpointEvery) {
          syms = syms.localCheckpoint()
          sinceCheckpoint = 0
        }
      }
    }
    merges.result()
  }

  /** A word's initial symbol list, replicating [[charSyms]]'s regex
    * semantics exactly: `(.)` matches one CODEPOINT (surrogate pairs
    * stay whole) and skips line terminators, so a run of terminator
    * chars is never space-wrapped and survives as ONE unmergeable
    * symbol (single-spaced in the unit string, no merge pattern can
    * touch it). */
  private def charSymbols(word: String): Array[String] = {
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

  private def isTerm(cp: Int) = cp == '\n' || cp == '\r' || cp == 0x85 ||
    cp == 0x2028 || cp == 0x2029

  /** Line-terminator run symbols never merge: their single-space
    * representation in the unit string means no ` l  r ` pattern ever
    * matches them. */
  private def mergeable(s: String) = !isTerm(s.charAt(0).toInt)

  /** One rewrite pass over a symbol list: every adjacent pair `join`
    * maps to a non-null string merges into it, left-to-right
    * non-overlapping — exactly the ` l  r ` string replace. */
  private def mergePass(syms: Array[String],
                        join: (String, String) => String): Array[String] = {
    val out = Array.newBuilder[String]
    var j = 0
    while (j < syms.length) {
      val m =
        if (j < syms.length - 1 && mergeable(syms(j)) &&
            mergeable(syms(j + 1))) join(syms(j), syms(j + 1))
        else null
      if (m != null) { out += m; j += 2 }
      else { out += syms(j); j += 1 }
    }
    out.result()
  }

  /** One word by greedy lowest-rank-first merging — the standard
    * fast-BPE encoder. Equivalent to the rank-ordered chain on a
    * rank-consistent table (spec-pinned): a merge's components are
    * themselves chars or lower-rank merges, so any adjacency a merge
    * can consume exists by the time its rank comes up in either order;
    * within one rank, all occurrences merge left-to-right
    * non-overlapping in both. Work per word is O(len²) HASH LOOKUPS
    * independent of |merges| — vs the chain's O(|merges|·len). */
  private def encodeWordFast(word: Array[String],
                             ranks: java.util.HashMap[String, Integer])
      : Array[String] = {
    def rankOf(a: String, b: String) = {
      val r = ranks.get(a + " " + b)
      if (r == null) Int.MaxValue else r.intValue
    }
    def lowest(syms: Array[String]) = {
      var best = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        if (mergeable(syms(i)) && mergeable(syms(i + 1)))
          best = math.min(best, rankOf(syms(i), syms(i + 1)))
        i += 1
      }
      best
    }
    var syms = word
    var best = lowest(syms)
    while (best != Int.MaxValue) {
      val r = best
      syms = mergePass(syms, (a, b) => if (rankOf(a, b) == r) a + b else null)
      best = lowest(syms)
    }
    syms
  }

  /** One word through the merges IN RANK ORDER — the chain semantics
    * on the JVM side, for rank-straddling tables, where the greedy
    * scan's equivalence does not hold. O(|merges|·len). */
  private def encodeWordChain(word: Array[String],
                              ordered: Array[Merge]): Array[String] =
    ordered.foldLeft(word) { (syms, m) =>
      if (syms.length < 2) syms
      else mergePass(syms, (a, b) =>
        if (a == m.left && b == m.right) m.merged else null)
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
    * or never, in both paths.) O(|merges|) hash probes, once per
    * encode call. */
  def isRankConsistent(merges: Seq[Merge]): Boolean = {
    val maxFormingRank = scala.collection.mutable.HashMap[String, Int]()
    merges.foreach(m => maxFormingRank(m.merged) =
      math.max(m.rank, maxFormingRank.getOrElse(m.merged, m.rank)))
    merges.forall(m => Seq(m.left, m.right).forall(c =>
      maxFormingRank.get(c).forall(_ <= m.rank)))
  }

  /** The encode-side merge table, shipped once per encode call as one
    * broadcast. The straddle rule lives here: a rank-consistent table
    * encodes each word by the greedy scan over the rank map, any other
    * (rare but legal, e.g. a hand-edited or foreign table) by the
    * per-word rank-ordered chain. */
  private final class MergeTable(merges: Seq[Merge]) extends Serializable {
    private val ranks = new java.util.HashMap[String, Integer](
      math.max(16, merges.size * 2))
    merges.foreach(m =>
      ranks.put(m.left + " " + m.right, Integer.valueOf(m.rank)))
    // null when the greedy scan equals the chain
    private val chain: Array[Merge] =
      if (isRankConsistent(merges)) null else merges.sortBy(_.rank).toArray

    def encodeWord(w: String): Array[String] =
      if (chain == null) encodeWordFast(charSymbols(w), ranks)
      else encodeWordChain(charSymbols(w), chain)
  }

  /** How one encoder splits a text into words and names its output:
    * `n` symbols in `enc`, each word's symbols space-joined, words
    * joined by `sep`. */
  private final case class Mode(words: String => Array[String],
                                n: String, enc: String, sep: String)

  /** Sentencepiece-style word marking on a JVM string (see
    * [[markWords]]), split into the marked words. */
  private def markedWords(t: String): Array[String] =
    ("▁" + t.replace(" ", " ▁")).split(" ")

  private val CharMode =
    Mode(t => t.split(" "), "n_tokens_bpe", "encoded", " | ")
  private val SpMode =
    Mode(t => markedWords(t), "n_tokens_sp", "encoded_sp", " ")
  private val ByteMode =
    Mode(t => markedWords(premapBytes(t)), "n_tokens_b", "encoded_b", " ")

  /** THE encode loop: one `mapPartitions` pass over a broadcast
    * [[MergeTable]], each task holding a word→encoding cache (the
    * fastBPE/HF-tokenizers token cache: natural corpora are
    * Zipf-distributed, so the hit rate is near-total and per-word work
    * amortizes to a hash probe; cleared at 100k entries, so an
    * all-unique-words corpus can't grow task memory). Appends the
    * mode's count and encoding columns; a null text encodes as 0
    * symbols / `""`. Map-side, zero shuffles, stateless — so it also
    * applies directly to a streaming frame. */
  private def encodeWith(df: DataFrame, text: String, merges: Seq[Merge],
                         mode: Mode): DataFrame = {
    val bc = df.sparkSession.sparkContext.broadcast(new MergeTable(merges))
    val ti = df.schema.fieldIndex(text)
    val outSchema = df.schema.add(mode.n, IntegerType)
      .add(mode.enc, StringType)
    df.mapPartitions { rows =>
      val table = bc.value
      val cache = new java.util.HashMap[String, Array[String]](1 << 12)
      def encodeWord(w: String): Array[String] = {
        var e = cache.get(w)
        if (e == null) {
          e = table.encodeWord(w)
          if (cache.size >= 100000) cache.clear()
          cache.put(w, e)
        }
        e
      }
      rows.map { row =>
        val t = row.getString(ti)
        val enc =
          if (t == null) Array.empty[Array[String]]
          else mode.words(t).filter(_.nonEmpty).map(encodeWord)
        Row.fromSeq(row.toSeq :+ enc.iterator.map(_.length).sum :+
          enc.map(_.mkString(" ")).mkString(mode.sep))
      }
    }(Encoders.row(outSchema))
  }

  /** Encode a text column at character level: every word's characters
    * merge by the table's rank order (the BPE apply contract — rank
    * order, not best-pair-first, matches how [[trainBatched]] built the
    * table on the training corpus itself). Merges never cross word
    * boundaries. Emits `n_tokens_bpe` (INT) and `encoded` — words
    * joined by ` | `, each word its space-separated symbol sequence
    * (the b02p gate entry replays the b02 SQL oracle over it). */
  def encodeFast(df: DataFrame, text: String,
                 merges: Seq[Merge]): DataFrame =
    encodeWith(df, text, merges, CharMode)

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

  /** Encode with word markers: the marked words run the encode loop
    * and ALL symbols join into one space-separated stream — no `|`
    * separator needed, the ▁s carry the boundaries. Emits
    * `n_tokens_sp` / `encoded_sp`; [[decodeSp]] inverts it exactly. */
  def encodeSp(df: DataFrame, text: String,
               merges: Seq[Merge]): DataFrame =
    encodeWith(df, text, merges, SpMode)

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
            reserved: Seq[String] = Nil): Seq[(Int, String, String)] =
    numbered(reserved, baseChars(df, text).toSeq, merges)

  /** reserved ++ base ++ merges (rank order), ids positional, every
    * symbol at its minimum id. */
  private def numbered(reserved: Seq[String], base: Seq[String],
                       merges: Seq[Merge]): Seq[(Int, String, String)] = {
    val seen = scala.collection.mutable.HashSet[String]()
    (reserved.map(_ -> "special") ++ base.map(_ -> "char") ++
      merges.sortBy(_.rank).map(_.merged -> "merge"))
      .zipWithIndex.collect {
        case ((sym, kind), i) if seen.add(sym) => (i, sym, kind)
      }
  }

  /** An encoding exploded through a model-sized vocabulary (a
    * `typedLit` map literal — broadcast-free, codegen'd, still zero
    * shuffles) as (id, pos, symbol, token_id) — the shape sequence
    * packers and feature stores consume; `pos` is the 0-based symbol
    * position. Empty symbols (an empty or whitespace-only document)
    * are dropped, and so is char mode's `|` word separator; in ▁/byte
    * streams `bar` is empty, because there a lone `|` is a real
    * symbol. A symbol outside the vocabulary yields a NULL token_id —
    * the caller's OOV policy owns it. */
  private def idsWith(df: DataFrame, id: String, text: String,
                      merges: Seq[Merge], vocab: Seq[(Int, String, String)],
                      mode: Mode): DataFrame = {
    val vmap = typedLit(vocab.map(v => v._2 -> v._1).toMap)
    val bar = mode.sep.trim
    encodeWith(df, text, merges, mode)
      .select(col(id), posexplode(filter(
        split(col(mode.enc), " "), s => s =!= bar && s =!= ""))
        .as(Seq("pos", "symbol")))
      .withColumn("token_id", element_at(vmap, col("symbol")))
  }

  /** Tokenizer-feed-ready INTEGER id sequences: [[encodeFast]] through
    * the vocabulary, `pos` counting symbols with word boundaries
    * elided. */
  def encodeIds(df: DataFrame, id: String, text: String,
                merges: Seq[Merge],
                vocab: Seq[(Int, String, String)]): DataFrame =
    idsWith(df, id, text, merges, vocab, CharMode)

  /** Tokenizer-feed INTEGER ids for the ▁-marker form (b06): the
    * [[encodeSp]] stream mapped through a vocabulary built on the
    * MARKED corpus (▁ is an ordinary base character there, so
    * word-initial symbols get their own ids — exactly how
    * sentencepiece vocabularies look). */
  def encodeIdsSp(df: DataFrame, id: String, text: String,
                  merges: Seq[Merge],
                  vocab: Seq[(Int, String, String)]): DataFrame =
    idsWith(df, id, text, merges, vocab, SpMode)

  /** Per-document token and OOV counts of an id frame (`n`, n_oov,
    * oov_ratio) — one doc-keyed agg. */
  private def coverage(ids: DataFrame, id: String, n: String): DataFrame =
    ids.groupBy(col(id))
      .agg(count(lit(1)).cast("long").as(n),
        sum(when(col("token_id").isNull, 1).otherwise(0)).cast("long")
          .as("n_oov"))
      .withColumn("oov_ratio", round(col("n_oov") / col(n), 6))

  /** Tokenizer coverage report (b04): encode a corpus with a FROZEN
    * tokenizer and measure per-document out-of-vocabulary mass — the
    * standard "does my tokenizer cover this data" card run before
    * committing to a training mix (a vocabulary trained on English
    * prose meeting code or another script shows up here first). A
    * symbol is OOV iff it maps to no vocabulary id (with character
    * fallback that means characters the training corpus never saw). */
  def coverageReport(df: DataFrame, id: String, text: String,
                     merges: Seq[Merge],
                     vocab: Seq[(Int, String, String)]): DataFrame =
    coverage(encodeIds(df, id, text, merges, vocab), id, "n_tokens_bpe")

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
    val schema = new StructType().add("_sp", StringType)
    df.mapPartitions { rows =>
      rows.map { row =>
        val t = row.getString(ti)
        Row(if (t == null) null
            else "▁" + premapBytes(t).replace(" ", " ▁"))
      }
    }(Encoders.row(schema))
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

  /** Encode in byte-fallback mode: the encode loop over the marked
    * PREMAPPED words, emitting one concatenated symbol stream
    * (`n_tokens_b` / `encoded_b`). [[decodeBytes]] inverts it
    * byte-exactly for ANY input — there is no OOV and no lossy step
    * anywhere. */
  def encodeBytes(df: DataFrame, text: String,
                  merges: Seq[Merge]): DataFrame =
    encodeWith(df, text, merges, ByteMode)

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
    val outSchema = df.schema.add("decoded_b", StringType)
    df.mapPartitions { rows =>
      rows.map { row =>
        val e = row.getString(ti)
        Row.fromSeq(row.toSeq :+ (if (e == null) null else decodeBytes(e)))
      }
    }(Encoders.row(outSchema))
  }

  /** Byte-mode vocabulary: the CLOSED base alphabet — all 256
    * surrogates plus the ▁ marker, sorted (ids 0..256) — then merges
    * in rank order, with [[vocab]]'s min-id dedup. No corpus scan:
    * the base set does not depend on the data, which is the whole
    * point of byte fallback. */
  def byteVocab(merges: Seq[Merge],
                reserved: Seq[String] = Nil): Seq[(Int, String, String)] =
    numbered(reserved, (byteAlphabet :+ '▁').map(_.toString).sorted, merges)

  /** Byte-mode id sequences: [[encodeBytes]] exploded through the
    * byte vocabulary — every symbol resolves (token_id is never NULL
    * when `vocab` is [[byteVocab]] of the same merges). */
  def encodeIdsBytes(df: DataFrame, id: String, text: String,
                     merges: Seq[Merge],
                     vocab: Seq[(Int, String, String)]): DataFrame =
    idsWith(df, id, text, merges, vocab, ByteMode)

  /** [[coverageReport]] in byte mode (b07): by construction the OOV
    * mass is ZERO on any corpus — the card that certifies a frozen
    * byte-level tokenizer covers arbitrary drifted data. */
  def coverageReportBytes(df: DataFrame, id: String, text: String,
                          merges: Seq[Merge],
                          vocab: Seq[(Int, String, String)]): DataFrame =
    coverage(encodeIdsBytes(df, id, text, merges, vocab), id, "n_tokens_b")
}
