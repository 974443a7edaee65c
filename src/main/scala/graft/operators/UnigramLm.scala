package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer training (Kudo 2018, "Subword Regularization:
  * Improving Neural Network Translation Models with Multiple Subword
  * Candidates", §3 — the SentencePiece unigram model), hard-EM flavor:
  * the OTHER major tokenizer family next to BPE ([[Bpe]]). Where BPE
  * greedily fuses pairs, the unigram model keeps a piece vocabulary
  * with probabilities and segments every word by VITERBI (min total
  * −log p); training alternates Viterbi segmentation (E) with count
  * renormalization (M).
  *
  * Distributed shape (100 TB): everything is keyed on DISTINCT WORDS —
  * the corpus collapses to a (word, freq) table in one partial-agg
  * pass (Zipf: millions of distinct words, not trillions of tokens),
  * candidate pieces shuffle as strings once to build the seed vocab,
  * and the per-word Viterbi DP is a per-ROW fold over ≤ `maxWordLen`
  * positions with a word-local edge list — map-only after one
  * vocab-keyed join. No driver state beyond nothing: even the M-step
  * is a piece-keyed partial agg.
  *
  * Exactness/portability: piece costs are INTEGER micro-nats
  * (`round((ln(totFreq) − ln(freq)) · 1e6)`), so the DP is pure
  * integer arithmetic — no FP accumulation anywhere, min/tie semantics
  * bit-identical in any engine. The backtrace tie-break is "longest
  * piece first" (min packed `(start·64 + len)` among cost-optimal
  * edges). A SQL oracle replays words → vocab → edges → forward DP →
  * backtrace → M-step, fold for fold.
  *
  * Edges pack as one BIGINT `((s·64 + l) << 34) | icost` (s, l ≤ 63 —
  * `require`d; icost < 2^34 — raise_error-guarded in the edge build,
  * though unreachable from [[seedVocab]]: `ln(tot)·1e6 ≥ 2^34` needs a
  * piece mass over `e^17179`), so edge lists sort canonically and the
  * DP lambdas stay integer-only.
  */
object UnigramLm {

  private val Inf = 1000000000000000L // unreachable-position sentinel
  private val CostMask = (1L << 34) - 1

  /** Corpus → (word, freq, len): the distinct-word table every stage
    * keys on. Words longer than `maxWordLen` are dropped (documented
    * cap: the DP is O(len·maxPieceLen) per word; pathological
    * "words" — URLs, base64 runs — belong to a cleaning pass, not the
    * tokenizer).
    */
  def words(docs: DataFrame, textCol: String,
      maxWordLen: Int = 20): DataFrame =
    Parallelism.ensureCompute(docs)
      .select(explode(split(col(textCol), " ")).as("w"))
      .where(length(col("w")).between(1, maxWordLen))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("freq"))
      .withColumn("len", length(col("w")).cast("long"))

  /** Every (start, len) substring piece of `w` up to `maxPieceLen`,
    * as (w, freq, len, s, l, piece) rows.
    */
  private def candidates(wrds: DataFrame, maxPieceLen: Int): DataFrame =
    wrds.select(col("w"), col("freq"), col("len"),
      explode(flatten(transform(
        sequence(lit(0L), col("len") - 1),
        s => transform(
          sequence(lit(1L), least(lit(maxPieceLen.toLong), col("len") - s)),
          l => struct(s.as("s"), l.as("l"),
            col("w").substr((s + 1).cast("int"), l.cast("int")).as("piece"))))))
        .as("c"))
      .select(col("w"), col("freq"), col("len"),
        col("c.s").as("s"), col("c.l").as("l"), col("c.piece").as("piece"))

  /** Seed vocabulary: ALL single characters (coverage — every word must
    * be segmentable) plus the `topMulti` most frequent multi-character
    * substrings (frequency-weighted by word count, ties by piece).
    * Costs are integer micro-nats of the relative frequency over the
    * SELECTED vocab.
    *
    * Returns (piece, seed_freq, icost).
    */
  def seedVocab(docs: DataFrame, textCol: String,
      maxPieceLen: Int = 4, topMulti: Int = 100,
      maxWordLen: Int = 20): DataFrame = {
    require(maxPieceLen >= 1 && maxPieceLen <= 63,
      s"maxPieceLen must be in [1, 63], got $maxPieceLen")
    seedVocabFrom(candidates(words(docs, textCol, maxWordLen), maxPieceLen),
      topMulti)
  }

  /** [[seedVocab]] over a prebuilt candidate table — the shared-scan
    * seam: [[emRound]]/[[tokenize]] build `cand` ONCE and feed both the
    * vocab construction and the edge build (the corpus's most expensive
    * explode must not run twice).
    */
  private def seedVocabFrom(cand: DataFrame, topMulti: Int): DataFrame = {
    require(topMulti >= 0, s"topMulti must be >= 0, got $topMulti")
    val pf = cand
      .groupBy(col("piece"))
      .agg(sum(col("freq")).as("seed_freq"))
    val singles = pf.where(length(col("piece")) === 1)
    // total order (freq desc, piece asc) -> orderBy+limit plans as a
    // distributed TakeOrderedAndProject, not a single-partition window
    val multi = pf.where(length(col("piece")) > 1)
      .orderBy(col("seed_freq").desc, col("piece").asc)
      .limit(topMulti)
    val vocab = singles.unionByName(multi)
    val tot = vocab.agg(sum(col("seed_freq")).as("tot"))
    vocab.crossJoin(broadcast(tot))
      .select(col("piece"), col("seed_freq"),
        round((log(col("tot").cast("double"))
          - log(col("seed_freq").cast("double"))) * lit(1000000.0), 0)
          .cast("long").as("icost"))
  }

  // packed-edge field extractors (see object doc for the layout)
  private def eS(e: Column): Column = shiftright(e, 40)
  private def eL(e: Column): Column = shiftright(e, 34).bitwiseAND(lit(63L))
  private def eC(e: Column): Column = e.bitwiseAND(lit(CostMask))
  private def eEnd(e: Column): Column = eS(e) + eL(e)

  /** Viterbi-segment every distinct word of `docs` under `vocab`
    * ((piece, icost) rows): returns one row per (word, piece-slot) —
    * `(w, freq, cost, s, l, piece)` with `cost` the word's total
    * min-cost in micro-nats. The DP is two integer folds per word
    * (forward best-cost, backward argmin trace); a localCheckpoint
    * barrier between them keeps CollapseProject from re-inlining the
    * forward fold into every backtrace reference (the q205 lesson).
    */
  def segment(docs: DataFrame, textCol: String, vocab: DataFrame,
      maxPieceLen: Int = 4, maxWordLen: Int = 20): DataFrame = {
    require(maxPieceLen >= 1 && maxPieceLen <= 63,
      s"maxPieceLen must be in [1, 63] (the 6-bit l field), got $maxPieceLen")
    require(maxWordLen >= 1 && maxWordLen <= 63,
      s"maxWordLen must be in [1, 63] (the packed s field), got $maxWordLen")
    segmentFrom(candidates(words(docs, textCol, maxWordLen), maxPieceLen),
      vocab, maxWordLen)
  }

  /** Packed-edge lists per word: `(w, freq, len, es)` with `es` the
    * canonically-sorted `((s·64+l) << 34) | icost` BIGINTs — the ONE
    * lattice representation the Viterbi DP ([[segmentFrom]]) and the
    * forward-backward marginals ([[softLattice]]) both fold over.
    */
  private def edgeArrays(cand: DataFrame, vocab: DataFrame): DataFrame = {
    // a cost outside [0, 2^34) would bleed into the (s, l) fields and
    // the DP would read garbage positions — refuse corrupt vocabs
    // (unreachable from seedVocab: ln(tot)·1e6 < 2^34 needs tot > e^17179)
    val safeCost = when(
      col("icost") < 0 || col("icost") >= lit(CostMask + 1),
      raise_error(concat(lit("unigram: icost "), col("icost").cast("string"),
        lit(" outside [0, 2^34) — packed-edge layout would corrupt"))))
      .otherwise(col("icost"))
    cand
      .join(vocab.select(col("piece"), col("icost")), Seq("piece"))
      .select(col("w"), col("freq"), col("len"),
        (shiftleft(col("s") * 64 + col("l"), 34)
          .bitwiseOR(safeCost)).as("e"))
      .groupBy(col("w"), col("freq"), col("len"))
      .agg(sort_array(collect_list(col("e"))).as("es"))
  }

  /** [[segment]] over a prebuilt candidate table (the shared-scan seam;
    * see [[seedVocabFrom]]).
    */
  private def segmentFrom(cand: DataFrame, vocab: DataFrame,
      maxWordLen: Int): DataFrame = {
    val arr = edgeArrays(cand, vocab)
    val pos = (acc: Column) => when(size(acc) === 1, element_at(acc, 1))
      .otherwise(shiftright(element_at(acc, -1), 6))
    val fwd = arr.withColumn("best",
      aggregate(sequence(lit(1L), col("len")), array(lit(0L)),
        (acc, p) => concat(acc, array(coalesce(
          array_min(transform(
            filter(col("es"), e => eEnd(e) === p),
            e => element_at(acc, (eS(e) + 1).cast("int")) + eC(e))),
          lit(Inf))))))
      .localCheckpoint() // barrier: keep the fwd fold out of the backtrace
    val traced = fwd.withColumn("tr",
      aggregate(sequence(lit(1L), col("len")), array(col("len")),
        (acc, _) => when(pos(acc) === 0, acc)
          .otherwise(concat(acc, array(
            array_min(transform(
              filter(col("es"), e => eEnd(e) === pos(acc)
                && element_at(col("best"), (eS(e) + 1).cast("int")) + eC(e)
                   === element_at(col("best"), (pos(acc) + 1).cast("int"))),
              e => shiftright(e, 34))))))))
    traced
      .select(col("w"), col("freq"),
        // a caller-supplied vocab may not cover some word: the DP then
        // lands at (or above — Inf accumulates) the sentinel, and the
        // backtrace's empty edge sets would emit null-piece rows with
        // Inf-as-cost. Refuse before exploding (seedVocab-derived
        // vocabularies always cover via single chars; only external
        // vocabs can reach this).
        when(element_at(col("best"), -1) >= lit(Inf),
          raise_error(concat(lit("unigram: word '"), col("w"),
            lit("' is unsegmentable under the supplied vocabulary"))))
          .otherwise(element_at(col("best"), -1)).as("cost"),
        explode(slice(col("tr"), 2, maxWordLen)).as("pk"))
      .select(col("w"), col("freq"), col("cost"),
        shiftright(col("pk"), 6).as("s"),
        col("pk").bitwiseAND(lit(63L)).as("l"))
      .withColumn("piece",
        col("w").substr((col("s") + 1).cast("int"), col("l").cast("int")))
  }

  /** One hard-EM round: seed the vocab, Viterbi-segment the corpus (E),
    * renormalize piece probabilities from the segmentation counts (M).
    * Returns the model table `(piece, seed_freq, cost0, viterbi_cnt,
    * logp1)`: `cost0` the seed micro-nat cost, `viterbi_cnt` the
    * frequency-weighted count of the piece in optimal segmentations
    * (0 = the prune candidate set), `logp1` the re-estimated 6-dp log
    * probability (NULL for unused pieces — pruned, not smoothed).
    */
  def emRound(docs: DataFrame, textCol: String,
      maxPieceLen: Int = 4, topMulti: Int = 100,
      maxWordLen: Int = 20): DataFrame = Pins.scoped { s =>
    val (vocab, seg) = trainAndSegment(s, docs, textCol, maxPieceLen,
      topMulti, maxWordLen)
    val cnt = seg.groupBy(col("piece"))
      .agg(sum(col("freq")).as("viterbi_cnt"))
    val tot1 = cnt.agg(sum(col("viterbi_cnt")).as("tot1"))
    Pins.detach(vocab.join(cnt, Seq("piece"), "left_outer")
      .crossJoin(broadcast(tot1))
      .select(col("piece"), col("seed_freq"), col("icost").as("cost0"),
        coalesce(col("viterbi_cnt"), lit(0L)).as("viterbi_cnt"),
        when(col("viterbi_cnt").isNotNull,
          round(log(col("viterbi_cnt").cast("double"))
            - log(col("tot1").cast("double")), 6)).as("logp1")))
  }

  // ------------------------------------------------------------ soft EM

  /** Per-edge probability `exp(−icost/1e6)` — the single IEEE chain
    * (divide, negate, exp) both engines replay bit-for-bit on the
    * identical packed cost.
    */
  private def pe(e: Column): Column =
    exp(-(eC(e).cast("double") / lit(1000000.0)))

  /** Forward-backward lattice marginals over the packed-edge lists —
    * Kudo 2018's ACTUAL E-step (§3.2: expected piece counts over ALL
    * segmentations, not just the Viterbi one). Appends to each word row:
    * `alpha` (α(0..len): total probability mass of paths reaching each
    * position), `beta` (stored reversed: β(len..0) — mass from each
    * position to the end), `z` (= α(len), the word's partition
    * function). Two INDEPENDENT per-row HOF folds computed in one
    * projection behind one localCheckpoint barrier before the consumer
    * (CollapseProject would re-inline each fold into every downstream
    * `element_at` — the plan-size blowup the Viterbi path already
    * guards against; the folds don't reference each other, so no
    * barrier is needed between them).
    *
    * Exactness/portability: edge probabilities are the fixed chain
    * [[pe]]; each position's sum folds the FILTERED edge list in its
    * canonical sorted order with a 0.0 init, so every α/β/z double is
    * reproduced bit-for-bit by a DuckDB `list_reduce` replay of the
    * same sorted list. No scaling pass: α(p) ≥ exp(−viterbiCost(p)),
    * so underflow to 0 needs a best path beyond ~708 nats — refused
    * via the `z` guard rather than silently renormalized.
    */
  private def softLattice(arr: DataFrame): DataFrame = {
    // alpha and beta are INDEPENDENT per-row folds over the same edge
    // list (neither references the other), so both compute in ONE
    // projection behind ONE checkpoint — the barrier still keeps
    // CollapseProject from re-inlining either fold into the downstream
    // element_at references, at half the materializations per round
    // (optimization round 13; was two chained checkpoints).
    // beta fold appends β(len−i) at index i+1: β(q) lives at len−q+1
    val withBeta = arr.withColumn("alpha",
      aggregate(sequence(lit(1L), col("len")), array(lit(1.0)),
        (acc, p) => concat(acc, array(
          aggregate(filter(col("es"), e => eEnd(e) === p), lit(0.0),
            (a, e) => a + element_at(acc, (eS(e) + 1).cast("int")) * pe(e))))))
      .withColumn("beta",
      aggregate(sequence(lit(1L), col("len")), array(lit(1.0)),
        (acc, i) => concat(acc, array(
          aggregate(filter(col("es"), e => eS(e) === col("len") - i), lit(0.0),
            (a, e) => a + pe(e) * element_at(acc,
              (col("len") - eEnd(e) + 1).cast("int")))))))
      .localCheckpoint()
    withBeta.withColumn("z",
      when(element_at(col("alpha"), (col("len") + 1).cast("int")) <= 0.0,
        raise_error(concat(
          lit("unigram soft-EM: zero lattice mass for word '"), col("w"),
          lit("' (uncovered under this vocab, or best path beyond ~708 " +
            "nats underflowed)"))))
        .otherwise(element_at(col("alpha"), (col("len") + 1).cast("int"))))
  }

  /** Expected piece counts from a [[softLattice]] table: each edge's
    * posterior γ(e) = α(s)·p(e)·β(end)/Z, weighted by word frequency,
    * rounded to 6 dp PER EDGE and summed as DECIMAL — order-free across
    * words, so the piece-keyed partial agg shuffles only 6-dp decimals.
    * Returns `(piece, scnt)` with `scnt` DECIMAL(28,6).
    */
  private def softCountsFrom(lat: DataFrame): DataFrame =
    lat.select(col("w"), col("freq"), col("len"), col("alpha"), col("beta"),
        col("z"), explode(col("es")).as("e"))
      .select(
        col("w").substr((eS(col("e")) + 1).cast("int"),
          eL(col("e")).cast("int")).as("piece"),
        round(col("freq").cast("double")
          * (element_at(col("alpha"), (eS(col("e")) + 1).cast("int"))
            * pe(col("e"))
            * element_at(col("beta"),
                (col("len") - eEnd(col("e")) + 1).cast("int"))
            / col("z")), 6).cast("decimal(28,6)").as("contrib"))
      .groupBy(col("piece"))
      .agg(sum(col("contrib")).as("scnt"))

  /** One SOFT-EM round (Kudo 2018 §3.2 proper, vs [[emRound]]'s
    * hard/Viterbi approximation): seed vocab, forward-backward expected
    * counts over every word's full segmentation lattice (E), count
    * renormalization (M). Returns `(piece, seed_freq, cost0, soft_cnt,
    * logp1)` — `soft_cnt` the 6-dp expected frequency-weighted count
    * (vs `viterbi_cnt`'s winner-take-all), `logp1` the re-estimated
    * log probability (NULL where the expected mass rounded to zero —
    * the soft prune set; hard-EM prunes everything outside the single
    * optimal path, soft-EM only what carries no measurable posterior).
    */
  def softEmRound(docs: DataFrame, textCol: String,
      maxPieceLen: Int = 4, topMulti: Int = 100,
      maxWordLen: Int = 20): DataFrame = Pins.scoped { s =>
    require(maxPieceLen >= 1 && maxPieceLen <= 63,
      s"maxPieceLen must be in [1, 63], got $maxPieceLen")
    require(maxWordLen >= 1 && maxWordLen <= 63,
      s"maxWordLen must be in [1, 63], got $maxWordLen")
    // the seed vocab and the lattice both read the candidate table
    val cand = s.pin(candidates(words(docs, textCol, maxWordLen), maxPieceLen))
    val vocab = seedVocabFrom(cand, topMulti)
    val cnt = softCountsFrom(softLattice(edgeArrays(cand, vocab)))
    val tot = cnt.agg(sum(col("scnt")).as("stot"))
    Pins.detach(vocab.join(cnt, Seq("piece"), "left_outer")
      .crossJoin(broadcast(tot))
      .select(col("piece"), col("seed_freq"), col("icost").as("cost0"),
        round(coalesce(col("scnt"), lit(0).cast("decimal(28,6)"))
          .cast("double"), 6).as("soft_cnt"),
        when(col("scnt").isNotNull && col("scnt") > 0,
          round(log(col("scnt").cast("double"))
            - log(col("stot").cast("double")), 6)).as("logp1")))
  }

  /** CHAINED soft-EM rounds — the forward-backward analog of
    * [[emTrajectory]]: each round takes expected counts under the
    * current model and renormalizes; the next vocabulary keeps every
    * piece whose 6-dp expected mass is positive (Kudo's
    * negligible-mass prune; hard-EM's used-pieces prune is the
    * degenerate temperature-0 case). Reports the corpus LOG-LIKELIHOOD
    * `Σ_w freq·ln Z(w)` — the quantity true EM monotonically
    * non-decreases (ascent holds up to the ≤0.5 micro-nat piece-cost
    * rounding, the same slack bound the hard path documents).
    *
    * Returns one row per round: `(round, n_pieces_used, corpus_ll)`.
    */
  def softEmTrajectory(docs: DataFrame, textCol: String, rounds: Int = 2,
      maxPieceLen: Int = 4, topMulti: Int = 100,
      maxWordLen: Int = 20): DataFrame = {
    import docs.sparkSession.implicits._
    softRounds(docs, textCol, rounds, maxPieceLen, topMulti, maxWordLen)(
      (_, sc) => sc.where(col("scnt") > 0)
        .select(col("piece"), col("scnt").as("cnt")))
      .toDF("round", "n_pieces_used", "corpus_ll")
  }

  /** The shared chained-soft-E-step loop behind [[softEmTrajectory]]
    * and [[trainVocabulary]] — ONE candidate scan, per round: lattice,
    * frequency-weighted corpus log-likelihood, expected counts (pinned
    * for the round — the M-step callback and the size readout both
    * read them), the caller's `keep` M-step producing the kept
    * `(piece, cnt)` table (pinned for the call, model-sized), cost
    * re-estimation `round((ln Σcnt − ln cnt)·1e6)` from the kept
    * counts. The pin scopes and the exactness chain live HERE so the
    * two oracle-matched trajectories cannot drift. Returns one
    * `(round, n_kept, corpus_ll)` tuple per round; all pins are
    * released on ANY exit, including a mid-loop refusal.
    */
  private def softRounds(docs: DataFrame, textCol: String, rounds: Int,
      maxPieceLen: Int, topMulti: Int, maxWordLen: Int)
      (keep: (DataFrame, DataFrame) => DataFrame)
      : Seq[(Long, Long, Double)] = Pins.scoped { s =>
    require(rounds >= 1 && rounds <= 8, s"rounds must be in [1, 8], got $rounds")
    require(maxPieceLen >= 1 && maxPieceLen <= 63,
      s"maxPieceLen must be in [1, 63], got $maxPieceLen")
    require(maxWordLen >= 1 && maxWordLen <= 63,
      s"maxWordLen must be in [1, 63], got $maxWordLen")
    val cand = s.pin(candidates(words(docs, textCol, maxWordLen), maxPieceLen))
    var vocab = seedVocabFrom(cand, topMulti)
      .select(col("piece"), col("icost"))
    val out = Seq.newBuilder[(Long, Long, Double)]
    for (t <- 1 to rounds) {
      val lat = softLattice(edgeArrays(cand, vocab))
      // per-word ln Z rounded to 6 dp, frequency-weighted, decimal-summed
      val llRow = lat.agg(round(sum(
        round(log(col("z")), 6).cast("decimal(18,6)") * col("freq"))
          .cast("double"), 6)).collect()(0)
      require(!llRow.isNullAt(0),
        "soft EM: no segmentable words — the corpus has no " +
          s"whitespace tokens within maxWordLen=$maxWordLen")
      // the round's expected counts go once kept is materialized
      val kept = Pins.scoped { r =>
        val k = s.pin(keep(vocab, r.pin(softCountsFrom(lat))))
        out += ((t.toLong, k.count(), llRow.getDouble(0)))
        k
      }
      val tot = kept.agg(sum(col("cnt").cast("decimal(28,6)")).as("tot"))
      vocab = kept.crossJoin(broadcast(tot))
        .select(col("piece"),
          round((log(col("tot").cast("double"))
            - log(col("cnt").cast("double"))) * lit(1000000.0), 0)
            .cast("long").as("icost"))
    }
    out.result()
  }

  /** The PRUNE half of Kudo 2018's training loop (§3.2 step 3): each
    * round takes forward-backward expected counts under the current
    * model, then prunes the vocabulary toward `targetVocab` — ALL
    * single characters stay (the coverage invariant), multi-char
    * pieces keep the top `targetVocab − nSingles` slots by expected
    * mass (6-dp, ties by piece — the probability-based approximation
    * of the per-piece likelihood loss; the exact leave-one-out ranking
    * is a re-DP per piece) — and costs re-estimate from the kept
    * counts. A zero-mass single (kept only for coverage) takes a
    * deterministic 1e-6 count floor so its cost stays finite. Reports
    * per round: `(round, n_vocab, corpus_ll)` — `n_vocab` AFTER the
    * round's prune, `corpus_ll` under the round's INCOMING model, so
    * consecutive rows price exactly what the previous prune cost in
    * likelihood.
    */
  def trainVocabulary(docs: DataFrame, textCol: String, targetVocab: Int,
      rounds: Int = 2, maxPieceLen: Int = 4, topMulti: Int = 100,
      maxWordLen: Int = 20): DataFrame = {
    require(targetVocab >= 1, s"targetVocab must be >= 1, got $targetVocab")
    import docs.sparkSession.implicits._
    // the alphabet is invariant across rounds (every single survives
    // each prune by construction) — count it once, on round 1
    var nSingles = -1L
    softRounds(docs, textCol, rounds, maxPieceLen, topMulti, maxWordLen) {
      (vocab, scRaw) =>
        // released 6-dp masses rank the prune (both engines rank the
        // same values) — the raw decimals stay internal
        val sc = scRaw.select(col("piece"),
          round(col("scnt").cast("double"), 6).as("sc"))
        val singles = vocab.where(length(col("piece")) === 1)
          .join(sc, Seq("piece"), "left_outer")
          .select(col("piece"),
            greatest(coalesce(col("sc"), lit(0.0)), lit(1e-6)).as("cnt"))
        if (nSingles < 0) nSingles = singles.count() // bounded: the alphabet
        require(targetVocab > nSingles,
          s"targetVocab=$targetVocab <= $nSingles single characters; " +
            "coverage needs every single, so the target must exceed them")
        val multis = sc.where(length(col("piece")) > 1 && col("sc") > 0)
          .orderBy(col("sc").desc, col("piece").asc)
          .limit((targetVocab - nSingles).toInt)
          .select(col("piece"), col("sc").as("cnt"))
        // a corpus (or a too-narrow topMulti seed) whose positive-mass
        // piece inventory cannot FILL the target must refuse loudly: a
        // silent underfill ships a "32k tokenizer" with 300 pieces and
        // the gap only surfaces at embedding-matrix build time
        // (discovered on the sf1 synthetic corpus: 40 distinct words =
        // 276-piece ceiling). Counting the WHERE — not the sort-limit
        // prune itself — keeps this one cheap agg job instead of a
        // duplicate TakeOrdered execution per round.
        val nAvail = sc
          .where(length(col("piece")) > 1 && col("sc") > 0).count()
        require(nAvail >= targetVocab - nSingles,
          s"trainVocabulary: positive-mass piece inventory supports only " +
            s"${nSingles + nAvail} pieces ($nSingles singles + $nAvail " +
            s"multis from the topMulti=$topMulti seed) — " +
            s"targetVocab=$targetVocab is unreachable on this corpus; " +
            "shrink the target or widen topMulti/maxPieceLen")
        singles.unionByName(multis)
    }.toDF("round", "n_vocab", "corpus_ll")
  }

  /** [[trainVocabulary]] with the prune's KEPT-MASS audit: one extra
    * column `kept_mass` per round — the 6-dp fraction of positive
    * multi-piece expected mass the prune keeps (Σ kept multis' 6-dp
    * counts / Σ all positive multis' 6-dp counts, decimal sums, one
    * double division). This is the number the q261/q269 starvation
    * diagnosis turns on: a healthy width keeps most of the mass
    * (q269's hash corpus ≥ 0.57); a starving corpus concentrates
    * posterior on a dominant tiling and the floor collapses toward the
    * rounding noise. Kept separate from [[trainVocabulary]] so the
    * committed 3-column readouts stay byte-stable; same prune, same
    * guards, two extra bounded aggregations per round.
    */
  def trainVocabularyAudit(docs: DataFrame, textCol: String,
      targetVocab: Int, rounds: Int = 2, maxPieceLen: Int = 4,
      topMulti: Int = 100, maxWordLen: Int = 20): DataFrame = {
    require(targetVocab >= 1, s"targetVocab must be >= 1, got $targetVocab")
    import docs.sparkSession.implicits._
    val dec286 = org.apache.spark.sql.types.DecimalType(28, 6)
    var nSingles = -1L
    val masses = scala.collection.mutable.ListBuffer.empty[Double]
    val rows = softRounds(docs, textCol, rounds, maxPieceLen, topMulti,
        maxWordLen) { (vocab, scRaw) =>
      val sc = scRaw.select(col("piece"),
        round(col("scnt").cast("double"), 6).as("sc"))
      val singles = vocab.where(length(col("piece")) === 1)
        .join(sc, Seq("piece"), "left_outer")
        .select(col("piece"),
          greatest(coalesce(col("sc"), lit(0.0)), lit(1e-6)).as("cnt"))
      if (nSingles < 0) nSingles = singles.count()
      require(targetVocab > nSingles,
        s"targetVocab=$targetVocab <= $nSingles single characters; " +
          "coverage needs every single, so the target must exceed them")
      val posMultis = sc.where(length(col("piece")) > 1 && col("sc") > 0)
      val multis = posMultis
        .orderBy(col("sc").desc, col("piece").asc)
        .limit((targetVocab - nSingles).toInt)
        .select(col("piece"), col("sc").as("cnt"))
      val nAvail = posMultis.count()
      require(nAvail >= targetVocab - nSingles,
        s"trainVocabulary: positive-mass piece inventory supports only " +
          s"${nSingles + nAvail} pieces ($nSingles singles + $nAvail " +
          s"multis from the topMulti=$topMulti seed) — " +
          s"targetVocab=$targetVocab is unreachable on this corpus; " +
          "shrink the target or widen topMulti/maxPieceLen")
      val tot = posMultis.agg(sum(col("sc").cast(dec286)))
        .head().getDecimal(0)
      val kept = multis.agg(sum(col("cnt").cast(dec286)))
        .head().getDecimal(0)
      masses += BigDecimal(kept.doubleValue() / tot.doubleValue())
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      singles.unionByName(multis)
    }
    rows.zip(masses).map { case ((r, n, ll), km) => (r, n, ll, km) }
      .toDF("round", "n_vocab", "corpus_ll", "kept_mass")
  }

  /** Hard-vs-soft EM on EQUAL footing and ONE candidate scan: both
    * E-steps run from the same seed over the same pinned candidate
    * table (a naive composition of [[emRound]] + [[softEmRound]] + two
    * [[segment]] calls re-derives the corpus's most expensive explode
    * four times), both re-estimated models then Viterbi-segment the
    * corpus. Hard counts come from the optimal path only; soft counts
    * are the 6-dp expected masses with the zero-mass prune. Returns one
    * row per regime: `(regime, n_vocab, corpus_cost, chars_per_piece)`
    * — micro-nat Viterbi corpus cost and occurrence-weighted
    * compression under each model.
    */
  def hardVsSoftReport(docs: DataFrame, textCol: String,
      maxPieceLen: Int = 4, topMulti: Int = 100,
      maxWordLen: Int = 20): DataFrame = Pins.scoped { s =>
    require(maxPieceLen >= 1 && maxPieceLen <= 63,
      s"maxPieceLen must be in [1, 63], got $maxPieceLen")
    require(maxWordLen >= 1 && maxWordLen <= 63,
      s"maxWordLen must be in [1, 63], got $maxWordLen")
    val cand = s.pin(candidates(words(docs, textCol, maxWordLen), maxPieceLen))
    val vocab = seedVocabFrom(cand, topMulti)
    def reEstimated(cnt: DataFrame): DataFrame = {
      val tot = cnt.agg(sum(col("cnt")).as("tot"))
      cnt.crossJoin(broadcast(tot)).select(col("piece"),
        round((log(col("tot").cast("double")) - log(col("cnt").cast("double")))
          * lit(1000000.0), 0).cast("long").as("icost"))
    }
    val hv = reEstimated(segmentFrom(cand, vocab, maxWordLen)
      .groupBy(col("piece")).agg(sum(col("freq")).as("cnt")))
    val sv = reEstimated(softCountsFrom(softLattice(edgeArrays(cand, vocab)))
      .select(col("piece"), round(col("scnt").cast("double"), 6).as("sc"))
      .where(col("sc") > 0)
      .select(col("piece"), col("sc").cast("decimal(28,6)").as("cnt")))
    def metrics(vocabX: DataFrame, regime: String): DataFrame = {
      // pieces tile the word: sum(l) per word = len, so char mass needs
      // no second words scan
      val perWord = segmentFrom(cand, vocabX, maxWordLen)
        .groupBy(col("w"), col("freq"), col("cost"))
        .agg(count(lit(1)).as("np"), sum(col("l")).as("chars"))
      perWord.agg(
        sum(col("freq") * col("cost")).as("corpus_cost"),
        sum(col("freq") * col("np")).as("piece_mass"),
        sum(col("freq") * col("chars")).as("char_mass"))
        .crossJoin(broadcast(vocabX.agg(count(lit(1)).as("n_vocab"))))
        .select(lit(regime).as("regime"), col("n_vocab"), col("corpus_cost"),
          round(col("char_mass").cast("double")
            / col("piece_mass").cast("double"), 6).as("chars_per_piece"))
    }
    Pins.detach(metrics(hv, "hard").unionByName(metrics(sv, "soft")))
  }

  /** Train-and-apply in ONE candidate scan: the words table and the
    * substring explosion are built once and pinned, the seed vocab and
    * the Viterbi edge build both read them. Returns the segment rows
    * (the serving surface q233 rolls up), detached.
    */
  def tokenize(docs: DataFrame, textCol: String,
      maxPieceLen: Int = 4, topMulti: Int = 100,
      maxWordLen: Int = 20): DataFrame = Pins.scoped { s =>
    Pins.detach(trainAndSegment(s, docs, textCol, maxPieceLen, topMulti, maxWordLen)._2)
  }

  /** CHAINED hard-EM rounds — the convergence story [[emRound]] opens:
    * each round Viterbi-segments under the current model and
    * renormalizes; the next round's vocabulary is exactly the pieces
    * the optimal segmentations USED (coverage is guaranteed by
    * construction: every word's round-t pieces survive to round t+1),
    * with costs `round((ln tot − ln cnt)·1e6)`. Total corpus cost in
    * micro-nats is non-increasing across rounds up to cost ROUNDING:
    * the textbook EM bound holds for the unrounded costs, and each
    * piece cost carries ≤ 0.5 micro-nat rounding error, so a round
    * whose true improvement is below ~1e-6 nats per occurrence can
    * report a rise bounded by the corpus's piece-occurrence mass in
    * micro-nats (the fixed point — counts unchanged — is exactly
    * stable, since identical counts reproduce identical rounded
    * costs). The spec pins descent with that rounding slack. Driver
    * state per round: two scalars plus the model-sized count table's
    * cardinality (the Lloyd discipline).
    *
    * Returns one row per round: `(round, n_pieces_used, corpus_cost)`.
    */
  def emTrajectory(docs: DataFrame, textCol: String, rounds: Int = 2,
      maxPieceLen: Int = 4, topMulti: Int = 100,
      maxWordLen: Int = 20): DataFrame = Pins.scoped { s =>
    require(rounds >= 1 && rounds <= 8, s"rounds must be in [1, 8], got $rounds")
    require(maxPieceLen >= 1 && maxPieceLen <= 63,
      s"maxPieceLen must be in [1, 63], got $maxPieceLen")
    require(maxWordLen >= 1 && maxWordLen <= 63,
      s"maxWordLen must be in [1, 63], got $maxWordLen")
    val spark = docs.sparkSession
    val cand = s.pin(candidates(words(docs, textCol, maxWordLen), maxPieceLen))
    var vocab = seedVocabFrom(cand, topMulti)
      .select(col("piece"), col("icost"))
    val out = Seq.newBuilder[(Long, Long, Long)]
    for (t <- 1 to rounds) {
      val seg = segmentFrom(cand, vocab, maxWordLen)
      val costRow = seg.select(col("w"), col("freq"), col("cost")).distinct()
        .agg(sum(col("freq") * col("cost"))).collect()(0)
      require(!costRow.isNullAt(0),
        "emTrajectory: no segmentable words — the corpus has no " +
          s"whitespace tokens within maxWordLen=$maxWordLen")
      // model-sized: each round's counts stay pinned for the call
      val counts = s.pin(seg.groupBy(col("piece")).agg(sum(col("freq")).as("cnt")))
      out += ((t.toLong, counts.count(), costRow.getLong(0)))
      val tot = counts.agg(sum(col("cnt")).as("tot"))
      vocab = counts.crossJoin(broadcast(tot))
        .select(col("piece"),
          round((log(col("tot").cast("double"))
            - log(col("cnt").cast("double"))) * lit(1000000.0), 0)
            .cast("long").as("icost"))
    }
    import spark.implicits._
    out.result().toDF("round", "n_pieces_used", "corpus_cost")
  }

  /** The seed vocab and its Viterbi segmentation, both reading the
    * candidate table pinned in the caller's scope `s`.
    */
  private def trainAndSegment(s: Pins.Scope, docs: DataFrame, textCol: String,
      maxPieceLen: Int, topMulti: Int, maxWordLen: Int)
      : (DataFrame, DataFrame) = {
    require(maxPieceLen >= 1 && maxPieceLen <= 63,
      s"maxPieceLen must be in [1, 63] (the 6-bit l field), got $maxPieceLen")
    require(maxWordLen >= 1 && maxWordLen <= 63,
      s"maxWordLen must be in [1, 63] (the packed s field), got $maxWordLen")
    val cand = s.pin(candidates(words(docs, textCol, maxWordLen), maxPieceLen))
    val vocab = seedVocabFrom(cand, topMulti)
    (vocab, segmentFrom(cand, vocab, maxWordLen))
  }
}
