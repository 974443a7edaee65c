package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Byte-pair-encoding MERGE-RULE training (Sennrich, Haddow & Birch
  * 2016 — the subword-tokenizer trainer behind GPT-2/RoBERTa-class
  * vocabularies): iteratively count adjacent symbol pairs over the
  * corpus vocabulary, pick the most frequent pair (ties broken
  * lexicographically), fuse it into a new symbol everywhere, repeat.
  * The ordered merge list IS the trained artifact a tokenizer ships;
  * no reference analog — the tokenizer-training member of the
  * LLM-pipeline mandate next to token counting (q15) and vocab
  * coverage (q74).
  *
  * Scale shape — the real BPE-training economics: the corpus is read
  * ONCE (one explode + one partial-agg shuffle to the `(word, count)`
  * vocabulary, Heaps-sublinear in corpus size); every iteration after
  * that touches only the vocabulary table — one pair-count partial agg
  * (map-side combine caps output at pair-vocabulary size), one
  * TakeOrdered(1) argmax, one MAP-ONLY merge fold (no shuffle, no
  * join: the winning pair rides the closure as two literals). Driver
  * state = one (pair, count) row per iteration.
  *
  * The merge fold is greedy left-to-right (the reference semantics:
  * `a a a a` + merge(a,a) → `aa aa`), implemented as a single array
  * fold with a one-flag lookahead state — deterministic, and exactly
  * replayable by an engine-portable islands construction (consecutive
  * match positions keep odd ranks), which is what the oracle does.
  *
  * Returns `(iter, lhs, rhs, pair_count, token)` — the ordered merge
  * table, one row per iteration (fewer if the vocabulary exhausts its
  * pairs first). Words are whitespace tokens; each word gets the
  * standard `</w>` end-of-word marker symbol.
  */
object Bpe {

  /** The corpus collapsed to its `(word, count, symbols)` vocabulary:
    * one explode + one partial-agg shuffle; symbols start as characters
    * plus the `</w>` end-of-word marker.
    */
  private def initVocab(docs: DataFrame, textCol: String): DataFrame =
    Parallelism.ensureCompute(docs)
      .select(explode(split(col(textCol), " ")).as("w"))
      .where(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .select(col("w"), col("c"),
        concat(filter(split(col("w"), ""), ch => ch =!= ""),
          array(lit("</w>"))).as("syms"))

  /** Escapes a symbol for splicing into a Spark SQL single-quoted
    * literal: backslash FIRST (the default parser treats it as an
    * escape — a corpus word carrying `\t` or a trailing `\` would
    * otherwise corrupt the literal), then quote doubling.
    */
  private val esc = (s: String) =>
    s.replace("\\", "\\\\").replace("'", "''")

  /** Greedy left-to-right fusion of one pair over `syms` as a map-only
    * array fold; `skip` marks a position consumed by a merge at its
    * left neighbor.
    */
  private def fuseExpr(l: String, r: String): String =
    s"""aggregate(sequence(1, size(syms)),
        named_struct('out', cast(array() as array<string>), 'skip', false),
        (acc, i) -> if(acc.skip,
          named_struct('out', acc.out, 'skip', false),
          if(i < size(syms) and element_at(syms, i) = '${esc(l)}'
               and element_at(syms, i + 1) = '${esc(r)}',
             named_struct('out', concat(acc.out, array('${esc(l + r)}')),
               'skip', true),
             named_struct('out', concat(acc.out, array(element_at(syms, i))),
               'skip', false))),
        acc -> acc.out)"""

  def trainMerges(docs: DataFrame, textCol: String, iters: Int): DataFrame = Pins.scoped { s =>
    require(iters >= 1 && iters <= 64, s"iters must be in [1, 64], got $iters")
    val spark = docs.sparkSession
    import spark.implicits._
    var cur = s.pin(initVocab(docs, textCol))
    val merges = Seq.newBuilder[(Int, String, String, Long, String)]
    var exhausted = false
    for (it <- 1 to iters if !exhausted) {
      // guard: Spark's sequence(1, 0) DESCENDS ([1, 0]) — a fully-fused
      // single-symbol word must contribute an empty pair list instead
      val top = cur.select(col("c"), explode(expr(
          """if(size(syms) < 2, cast(array() as array<struct<l: string, r: string>>),
             transform(sequence(1, size(syms) - 1),
             i -> named_struct('l', element_at(syms, i),
                               'r', element_at(syms, i + 1))))""")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("c")).as("n"))
        .orderBy(col("n").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((it, l, r, n, l + r))
        // each fused vocabulary is detached: the previous one is garbage
        // at once, and the plan never stacks
        cur = Pins.detach(cur
          .select(col("w"), col("c"), expr(fuseExpr(l, r)).as("syms")))
      }
    }
    merges.result().toDF("iter", "lhs", "rhs", "pair_count", "token")
  }

  /** APPLY an ordered merge list — the tokenizer SERVING path pairing
    * with [[trainMerges]] the way q142 serves what q159 trains: the
    * vocabulary decomposes to characters + marker and the merges replay
    * IN ORDER as chained map-only folds (each pair rides its fold as
    * literals; no join, no shuffle after the one vocab build). Returns
    * the tokenized vocabulary `(w, c, syms)`; tokenizing raw docs means
    * joining them to it on the word — or baking the same folds directly
    * over a doc-side array at the identical seam.
    *
    * Each fold materializes behind a `localCheckpoint` barrier before
    * the next references it: without one, CollapseProject inlines fold
    * k's whole expression into EVERY `element_at` reference inside fold
    * k+1, and the plan tree grows ~6^merges — measured as a 100 s
    * optimizer/codegen stall at 3 merges over a 31-word vocabulary (the
    * [[graft.functions.TextFunctions.portableTokenHashes]] multi-
    * reference hazard, one tier up). The barrier costs one vocab-sized
    * materialization per merge; swap to the durable
    * [[Sinks.handoff]] seam on a cluster where executor loss matters.
    */
  def applyMerges(docs: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame =
    merges.foldLeft(initVocab(docs, textCol)) { case (df, (l, r)) =>
      df.localCheckpoint(true)
        .select(col("w"), col("c"), expr(fuseExpr(l, r)).as("syms"))
    }

  /** Corpus token frequencies under a trained merge list: the
    * vocabulary-health readout (which merged tokens carry mass, how
    * much tail stays at character level). One explode + one partial agg
    * over the tokenized vocabulary — everything stays
    * vocabulary-sized.
    */
  def tokenFrequencies(docs: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame =
    applyMerges(docs, textCol, merges)
      .select(explode(col("syms")).as("token"), col("c"))
      .groupBy(col("token")).agg(sum(col("c")).as("n"))
}
