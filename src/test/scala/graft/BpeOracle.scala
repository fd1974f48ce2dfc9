package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.text.Bpe
import graft.text.Bpe.Merge

/** The retired BPE reference paths, kept as the oracles the production
  * trainer and encoder are held to. [[train]] is the sequential greedy
  * trainer — one Spark job elects one merge — that
  * [[Bpe.trainBatched]]'s conflict-free batching must reproduce bit for
  * bit; [[encode]] is the rank-ordered `replace` chain (the semantics
  * the SQL oracle replays) that every encoder of the one
  * `Bpe` encode loop must equal, straddling tables included. */
object BpeOracle {

  /** `nMerges` merges, one argmax election per Spark job, stopping
    * early when the corpus runs out of co-occurring pairs;
    * `checkpointEvery` truncates the symbol frame's lineage. */
  def train(df: DataFrame, text: String, nMerges: Int,
            checkpointEvery: Int = 64): Seq[Merge] = {
    var syms = Bpe.wordSyms(df, text)
    val merges = Seq.newBuilder[Merge]
    var rank = 1
    var exhausted = false
    while (rank <= nMerges && !exhausted) {
      Bpe.electTop(syms, 1).headOption match {
        case None => exhausted = true
        case Some((l, r, c)) =>
          val m = Merge(rank, l, r, l + r, c)
          merges += m
          syms = syms.withColumn("sym", Bpe.applyChain(col("sym"), Seq(m)))
          if (rank % checkpointEvery == 0) syms = syms.localCheckpoint()
          rank += 1
      }
    }
    merges.result()
  }

  /** Every word's unit string rewritten by ALL merges in rank order —
    * a static chain of `replace` calls inside one per-word lambda.
    * Emits `n_tokens_bpe` and `encoded` (words joined by ` | `), the
    * same columns as [[Bpe.encodeFast]]; a null text stays null. */
  def encode(df: DataFrame, text: String, merges: Seq[Merge]): DataFrame = {
    val ordered = merges.sortBy(_.rank)
    val encodedWords = transform(
      filter(split(col(text), " "), w => w =!= ""),
      w => call_function("replace",
        trim(Bpe.applyChain(Bpe.charSyms(w), ordered)), lit("  "), lit(" ")))
    df.withColumn("_enc", encodedWords)
      .withColumn("n_tokens_bpe",
        aggregate(col("_enc"), lit(0), (acc, s) =>
          acc + size(split(s, " "))).cast("int"))
      .withColumn("encoded", array_join(col("_enc"), " | "))
      .drop("_enc")
  }
}
