package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Corpus-level data SELECTION for pretraining: score every document
  * against a corpus- or target-distribution language model and keep the
  * best slice. Two public scorers from the data-curation literature:
  *
  *  - [[unigramCrossEntropy]] — the CCNet-style "perplexity" gate
  *    (Wenzek et al. 2020 use a KenLM; the unigram LM is the same gate
  *    with a model Spark can train in one partial-agg pass).
  *  - [[dsirLogWeights]] — DSIR importance weights (Xie et al. 2023):
  *    hashed n-gram bucket counts, target-vs-source log-likelihood
  *    ratio. No analog in the reference (`themovies.py` has no text
  *    scoring); added per the training-pipeline mandate.
  *
  * Both scorers are MAP-shaped after a statistics pass whose state is
  * tiny (a vocabulary / a fixed bucket array), which is what makes them
  * runnable at 100 TB: the model rides a broadcast, never a shuffle of
  * the corpus.
  */
object DataSelection {

  /** Per-document cross-entropy (nats/token) under the corpus's own
    * unigram LM: `H(d) = -(1/|d|) * sum_w c_d(w) * ln(c(w)/N)`. High
    * cross-entropy = tokens the corpus finds surprising — the
    * boilerplate/gibberish tail a quality gate drops; CCNet keeps the
    * low-perplexity head/middle.
    *
    * Scale shape: the LM is one (term)-keyed partial-agg pass (counts
    * only); N collapses to a driver scalar. Scoring joins per-doc term
    * counts against the vocabulary on the term key — vocabularies are
    * sublinear in corpus size (heaps' law), and AQE broadcasts the
    * build side when it fits. Nothing per-doc ever materializes beyond
    * its distinct-term rows.
    *
    * Portability: ln is bit-identical across engines on these inputs
    * (pinned by the BM25 oracle); each term's contribution
    * `c_d(w) * -ln p(w)` is an exact double product, and the per-doc
    * sum runs through DECIMAL (order-independent, the q92/q96/q112
    * discipline) before one exact division — the oracle replays every
    * step.
    */
  def unigramCrossEntropy(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val terms = Parallelism.ensureCompute(docs)
      .select(col(idCol).as("doc_id"),
        explode(TextFunctions.tokens(col(textCol))).as("w"))
      .where(col("w") =!= "")
    val vocab = terms.groupBy(col("w")).agg(count(lit(1)).as("n"))
    val nTotal = vocab.agg(sum(col("n"))).collect()(0).getLong(0).toDouble
    val lnp = vocab.select(col("w"),
      log(col("n").cast("double") / lit(nTotal)).as("lnp"))
    terms.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .join(lnp, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        sum((col("c").cast("double") * -col("lnp"))
          .cast("decimal(25,10)")).as("h_sum"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("h_sum").cast("double") / col("n_tokens"), 6)
          .as("cross_entropy"))
  }

  /** Interpolated BIGRAM cross-entropy (nats/bigram) — the step up
    * from [[unigramCrossEntropy]] a CCNet-style gate actually wants:
    * `p(wᵢ | wᵢ₋₁) = λ·c(wᵢ₋₁,wᵢ)/c(wᵢ₋₁) + (1−λ)·c(wᵢ)/N`
    * (Jelinek–Mercer interpolation; the unigram back-off keeps unseen
    * continuations finite without add-k distortion). Boilerplate made
    * of plausible words in implausible ORDER — the tail a unigram gate
    * cannot see — now scores high. Documents under 2 tokens have no
    * bigram and are absent from the output.
    *
    * Scale shape: the model is two (term)- and (pair)-keyed partial-agg
    * passes; the bigram table is corpus-sublinear (pair vocabulary) and
    * joins on its key — never a corpus broadcast. Scoring is the q121
    * shape one key wider. Portability: identical operand doubles and
    * operation order on both engines, per-contribution DECIMAL(25,10)
    * capture, exact decimal sum, one division — the oracle replays
    * every step.
    */
  def bigramCrossEntropy(docs: DataFrame, idCol: String, textCol: String,
      lambda: Double = 0.75): DataFrame = {
    require(lambda > 0 && lambda < 1, s"lambda must be in (0,1), got $lambda")
    val toks = Parallelism.ensureCompute(docs)
      .select(col(idCol).as("doc_id"),
        filter(TextFunctions.tokens(col(textCol)), w => w =!= "").as("ws"))
    // adjacency AFTER empty-token removal; sequence(2, 1) DESCENDS in
    // Spark, so short docs take the empty-array branch explicitly
    val pairs = toks
      .select(col("doc_id"), explode(when(size(col("ws")) >= 2,
        transform(sequence(lit(2), size(col("ws"))),
          i => struct(element_at(col("ws"), i - 1).as("p"),
            element_at(col("ws"), i).as("w"))))
        .otherwise(array().cast("array<struct<p:string,w:string>>"))).as("bg"))
      .select(col("doc_id"), col("bg.p").as("p"), col("bg.w").as("w"))
    val big = pairs.groupBy(col("p"), col("w")).agg(count(lit(1)).as("cb"))
    val uni = toks.select(explode(col("ws")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cu"))
    // sum() over an empty unigram table is NULL — a tokenless corpus
    // must yield the documented empty result, not an NPE
    val nTotal = Option(uni.agg(sum(col("cu"))).collect()(0).get(0))
      .map(_.asInstanceOf[Long].toDouble).getOrElse(1.0)
    val prev = uni.select(col("w").as("p"), col("cu").as("cp"))
    val model = big.join(prev, Seq("p")).join(uni, Seq("w"))
      .select(col("p"), col("w"),
        log(lit(lambda) * (col("cb").cast("double") / col("cp").cast("double")) +
          lit(1 - lambda) * (col("cu").cast("double") / lit(nTotal))).as("lnp"))
    pairs.groupBy(col("doc_id"), col("p"), col("w")).agg(count(lit(1)).as("c"))
      .join(model, Seq("p", "w"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"),
        sum((col("c").cast("double") * -col("lnp"))
          .cast("decimal(25,10)")).as("h_sum"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("h_sum").cast("double") / col("n_bigrams"), 6)
          .as("cross_entropy"))
  }

  /** DSIR log importance weights: hash every token into `nBuckets`
    * portable buckets (the 48-bit char fold mod B — engine-replayable),
    * estimate smoothed bucket distributions over a TARGET slice (the
    * domain you want more of) and the full SOURCE corpus, and score
    * each document `log w(d) = sum_b c_d[b] * (ln p_t[b] - ln p_s[b])`.
    * Sampling source docs proportional to `exp(log w)` reshapes the
    * corpus toward the target domain (Xie et al. 2023 §3).
    *
    * Scale shape: the corpus is TOKENIZED ONCE — the token stream
    * collapses immediately into the per-(doc, bucket) count table
    * (≤ nBuckets rows per doc, orders of magnitude smaller than the
    * text), which is pinned and feeds BOTH the global bucket
    * distribution (one tiny second agg over it, `nBuckets` longs to the
    * driver, re-emitted as a BROADCAST literal table) and the scoring
    * join. The corpus is never shuffled by anything wider than its own
    * doc key; the per-doc weights are detached, so the doc-bucket pin is
    * released before returning.
    *
    * Portability: bucket ids are integer math; each `(c+1)/(N+B)` is
    * one exact double division, ln is pinned, the per-doc sum runs
    * through DECIMAL. `targetFilter` must be deterministic SQL the
    * oracle can replay (e.g. `col("lang") === "en"`).
    */
  def dsirLogWeights(docs: DataFrame, idCol: String, textCol: String,
      targetFilter: org.apache.spark.sql.Column,
      nBuckets: Int = 64): DataFrame = Pins.scoped { s =>
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val spark = docs.sparkSession
    import spark.implicits._
    val base = Parallelism.ensureCompute(docs)
      .select(col(idCol).as("doc_id"), col(textCol).as("__text"),
        targetFilter.as("__is_target"))
      .select(col("doc_id"), col("__is_target"),
        explode(TextFunctions.portableTokenHashes(col("__text"))).as("h"))
      .select(col("doc_id"), col("__is_target"),
        (col("h") % nBuckets).cast("int").as("b"))
    // ONE tokenize pass: (doc, bucket) counts; __is_target rides the key
    // (per-doc constant, so cardinality is unchanged)
    val docBucket = s.pin(base.groupBy(col("doc_id"), col("__is_target"), col("b"))
      .agg(count(lit(1)).as("c")))
    val counts = docBucket.groupBy(col("b"))
      .agg(sum(col("c")).as("n_src"),
        sum(when(col("__is_target"), col("c")).otherwise(0L)).as("n_tgt"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val nSrc = counts.valuesIterator.map(_._1).sum.toDouble
    val nTgt = counts.valuesIterator.map(_._2).sum.toDouble
    // smoothed log-ratio per bucket, materialized as a 64-row literal
    // table both engines can reconstruct from the same integer counts
    val ratios = (0 until nBuckets).map { b =>
      val (cs, ct) = counts.getOrElse(b, (0L, 0L))
      val lnT = math.log((ct + 1.0) / (nTgt + nBuckets))
      val lnS = math.log((cs + 1.0) / (nSrc + nBuckets))
      (b, lnT - lnS)
    }.toDF("b", "ln_ratio")
    Pins.detach(docBucket
      .join(broadcast(ratios), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        sum((col("c").cast("double") * col("ln_ratio"))
          .cast("decimal(25,10)")).as("w_sum"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("w_sum").cast("double"), 6).as("log_weight")))
  }

  /** Deterministic weighted sampling WITHOUT replacement via the
    * Gumbel-top-k trick (Efraimidis–Spirakis / Vieira): per-row key
    * `log w + Gumbel = log w - ln(-ln u)`, the k largest keys are an
    * exact sample proportional to the weights. The uniform `u` is not
    * random: it is [[TextFunctions.portableUniform]] over `salt || id`
    * — replayable on any engine, stable across runs (the
    * property a resumable 100 TB pipeline needs; re-running the job
    * selects the same sample), re-drawable by changing `salt`.
    *
    * This is DSIR's resampling step ([[dsirLogWeights]] provides
    * `log w`), and the general "sample k docs by quality weight" tool.
    *
    * Scale shape: map-only scoring, then top-k plans as
    * TakeOrderedAndProject — per-partition heaps of k rows, no global
    * sort. Keys are rounded to 6 dp BEFORE ranking (stable rank
    * boundaries), ties broken by id.
    */
  def gumbelTopK(weights: DataFrame, idCol: String, logWeightCol: String,
      k: Int, salt: String = ""): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val u = TextFunctions.portableUniform(
      concat(lit(salt), col("id").cast("string")))
    Parallelism.ensureCompute(weights)
      .select(col(idCol).as("id"), col(logWeightCol).as("log_weight"))
      .withColumn("gumbel_key", round(col("log_weight") - log(-log(u)), 6))
      .orderBy(col("gumbel_key").desc, col("id").asc)
      .limit(k)
      // the rank window is unpartitioned BUT runs over the k surviving
      // rows only — bounded by construction, never the corpus
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("gumbel_key").desc, col("id").asc)).cast("long"))
  }

  /** Temperature-based mixture resampling (the mT5/XLM-R recipe for
    * rebalancing skewed source/language mixtures): source s with `n_s`
    * tokens gets target share `p_s ∝ n_s^tau` (tau<1 flattens the head,
    * lifts the tail), and a per-source keep RATE
    * `min(1, p_s * budget / n_s)`. Every document then keeps or drops
    * deterministically: `u(id) < rate(source)`, with `u` from the
    * portable id hash — rerun-stable, salt re-draws, and expected kept
    * tokens per source = its target allocation.
    *
    * Scale shape: per-source token counts are one partial-agg pass into
    * driver scalars (sources are FEW — the op is for rebalancing a
    * handful of domains); rates come back as a broadcast literal table;
    * the keep decision is map-only. Rates are rounded to 6 dp before
    * the compare so the decision boundary is engine-portable (`pow` is
    * the one non-pinned operation here; a last-ulp wobble cannot cross
    * a 6-dp-rounded boundary on real data). The per-doc uniform is
    * [[TextFunctions.portableUniform]] — rerun-stable, salt re-draws.
    */
  def temperatureResample(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, tau: Double, budgetTokens: Long,
      salt: String = ""): DataFrame = {
    require(tau > 0 && tau <= 1.0, s"tau must be in (0,1], got $tau")
    require(budgetTokens > 0, s"budgetTokens must be positive, got $budgetTokens")
    val spark = docs.sparkSession
    import spark.implicits._
    val base = Parallelism.ensureCompute(docs)
      .select(col(idCol).as("doc_id"), col(sourceCol).as("source"),
        size(TextFunctions.tokens(col(textCol))).cast("long").as("n_toks"))
    val counts = base.groupBy(col("source")).agg(sum(col("n_toks")).as("n_s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    // pow sum through DECIMAL (shortest-rendering cast, the q112 route)
    // so the normalizer is summation-order-independent and the oracle
    // reproduces it with a plain decimal SUM
    val powSum = counts.map { case (_, n) =>
      BigDecimal(math.pow(n.toDouble, tau))
        .setScale(10, BigDecimal.RoundingMode.HALF_UP)
    }.sum.toDouble
    val rates = counts.map { case (s, n) =>
      val share = math.pow(n.toDouble, tau) / powSum
      val rate = math.min(1.0, share * budgetTokens / n)
      (s, BigDecimal(rate).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSeq.toDF("source", "rate")
    val u = TextFunctions.portableUniform(
      concat(lit(salt), col("doc_id").cast("string")))
    base.join(broadcast(rates), Seq("source"))
      .select(col("doc_id"), col("source"), col("n_toks"), col("rate"),
        (u < col("rate")).as("keep"))
  }

  /** Hashed linear classifier INFERENCE (the fastText serving shape:
    * hash features into buckets, dot with a weight vector, threshold) —
    * how a trained quality/language/toxicity filter actually runs over
    * a 100 TB corpus: as pure map-side arithmetic, no model server, no
    * shuffle, no per-row UDF.
    *
    * Weights here are a pure FUNCTION of the bucket id
    * (`((b·2654435761) mod 1997) − 998`, an integer in [−998, 998]) —
    * the operator's point is the inference PLUMBING (portable token
    * hash → bucket → weight → sum → normalize → threshold), and
    * function-weights keep every stage exactly replayable by an
    * oracle; swapping in trained weights means joining a broadcast
    * (bucket, weight) table or baking them into the same expression.
    * The score is Σ w(bucket(token)) — exact BIGINT — normalized by
    * one IEEE division over `n_tokens · 1000` (weights are milli-units)
    * and thresholded at 0 on the INTEGER sum, so the label never
    * depends on float rounding.
    *
    * Scale: one codegen'd pass (native [[TextFunctions.portableTokenHashes]]
    * + array HOF fold), embarrassingly parallel.
    */
  def hashedLinearScore(docs: DataFrame, idCol: String, textCol: String,
      buckets: Int = 64): DataFrame = {
    require(buckets >= 2 && buckets <= (1 << 20),
      s"buckets must be in [2, 2^20], got $buckets")
    val hs = TextFunctions.portableTokenHashes(col(textCol))
    val w = (h: org.apache.spark.sql.Column) =>
      (h % buckets) * 2654435761L % 1997L - 998L
    docs.select(col(idCol),
        size(hs).cast("long").as("n_tokens"),
        aggregate(hs, lit(0L), (acc, h) => acc + w(h)).as("score_int"))
      .select(col(idCol), col("n_tokens"), col("score_int"),
        when(col("n_tokens") > 0,
          round(col("score_int").cast("double") /
            (col("n_tokens") * 1000L).cast("double"), 6)).as("score"),
        (col("score_int") > 0L).as("label"))
  }

  /** Per-document n-gram NOVELTY against the corpus's own ingestion
    * order: each distinct shingle is attributed to the smallest doc id
    * containing it (first occurrence), and a doc's novelty is the
    * fraction of its distinct shingles it introduced. The curation
    * signal the dedup family cannot give: a doc can be far from every
    * OTHER doc pairwise yet contribute nothing new (all its n-grams
    * already first-seen elsewhere), and a near-dup report says nothing
    * about which docs carry the corpus's fresh n-gram mass — the metric
    * RefinedWeb-style pipelines use to track marginal data value across
    * crawl snapshots (id order stands in for crawl date; pass a
    * date-derived id to attribute by time).
    *
    * Scale shape: explode to (doc, shingle-hash) — distinct per doc by
    * construction ([[TextFunctions.hashedShingles]]) — then (a) one
    * (shingle)-keyed partial-agg `min(id)` (first-occurrence table),
    * (b) one shingle-keyed join of the two, (c) one per-doc partial
    * agg. Nothing wider than (8-byte hash, id) ever shuffles, and no
    * stage is quadratic: this is the partial-agg economics of
    * [[graft.operators.Dedup.byContentHash]] with an attribution join
    * in the middle. Docs with fewer than `n` tokens have no shingles
    * and are absent from the output (no 0/0 row).
    *
    * Returns (id, n_shingles, n_novel, novelty), novelty rounded to 6
    * dp (one exact integer division per doc).
    */
  def noveltyScores(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val sh = Parallelism.ensureCompute(docs)
      .select(col(idCol).as("id"),
        explode(TextFunctions.hashedShingles(col(textCol), n)).as("s"))
    val firstSeen = sh.groupBy(col("s")).agg(min(col("id")).as("first_id"))
    sh.join(firstSeen, Seq("s"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_id") === col("id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("id"), col("n_shingles"), col("n_novel"),
        round(col("n_novel").cast("double") /
          col("n_shingles").cast("double"), 6).as("novelty"))
  }

  /** TRAIN a hashed linear probe by full-batch gradient descent — the
    * missing half of the [[hashedLinearScore]] serving story: that
    * operator runs a trained filter over 100 TB; this one TRAINS it
    * with the same distributed economics (the fastText/quality-filter
    * training shape: hash features into `buckets` counts, least-squares
    * linear probe, a few full-batch GD epochs). Labels come from the
    * function-weight teacher [[hashedLinearScore]] thresholds — the
    * distillation framing keeps every stage closed-form; training
    * against human labels means swapping the label column at the same
    * seam.
    *
    * Model: minimize `Σ_d (w·x_d − y_d)²/2N` over docs with ≥1 token,
    * where `x_d` = per-bucket token counts, `y_d ∈ {0,1}`. Updates:
    * `g_b = round(Σ_d r_d·x_db / N, 6)`; `w_b ← round(w_b − lr·g_b, 6)`.
    *
    * Exactness/portability: weights live as DECIMAL(18,6); predictions
    * and gradient sums are exact decimal products of 6-dp weights and
    * integer counts, summed as DECIMAL (order-independent across any
    * partitioning — no float accumulation anywhere); the only IEEE ops
    * are one division by N and one `w − lr·g` per bucket per epoch,
    * each immediately rounded to 6 dp. An oracle replays the whole
    * trajectory bit-for-bit.
    *
    * Scale shape: the feature table `(doc, bucket, count)` is built
    * once (one explode + one partial-agg shuffle) and pinned; each
    * epoch is one doc-keyed agg (pred+label), one doc-keyed join, one
    * bucket-keyed partial agg whose map-side combine caps output at
    * `buckets` rows per partition. Driver state = `buckets` scalars —
    * the Lloyd's-training discipline (q71): iterate with a tiny model,
    * never collect data.
    *
    * Returns `(iter, bucket, w)` — the full weight trajectory,
    * `iters × buckets` rows.
    */
  def trainHashedLinearProbe(docs: DataFrame, idCol: String,
      textCol: String, buckets: Int = 64, iters: Int = 3,
      lr: Double = 0.5): DataFrame = Pins.scoped { s =>
    require(buckets >= 2 && buckets <= (1 << 20),
      s"buckets must be in [2, 2^20], got $buckets")
    require(iters >= 1 && iters <= 32, s"iters must be in [1, 32], got $iters")
    require(lr > 0.0 && lr.isFinite, s"lr must be positive, got $lr")
    val spark = docs.sparkSession
    import spark.implicits._
    val feats = s.pin(Parallelism.ensureCompute(docs)
      .select(col(idCol).as("id"),
        explode(TextFunctions.portableTokenHashes(col(textCol))).as("h"))
      .select(col("id"), (col("h") % buckets).cast("long").as("bucket"))
      .groupBy(col("id"), col("bucket")).agg(count(lit(1)).as("x")))
    // teacher label: the q142 function-weight score is a pure function
    // of the SAME bucket counts (weights depend only on bucket id)
    val teacherW = col("bucket") * 2654435761L % 1997L - 998L
    val yCol = when(sum(col("x") * teacherW) > 0L,
      lit(java.math.BigDecimal.ONE).cast("decimal(18,6)"))
      .otherwise(lit(java.math.BigDecimal.ZERO).cast("decimal(18,6)"))
    val n = feats.select(col("id")).distinct().count()
    require(n > 0, "training corpus has no tokenized documents")
    val round6 = (v: Double) =>
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    var w = Array.fill(buckets)(0.0) // each value always 6-dp-rounded
    val trajectory = Array.newBuilder[(Int, Long, Double)]
    for (it <- 1 to iters) {
      val wDf = broadcast(w.toIndexedSeq.zipWithIndex.map { case (wv, b) =>
        // valueOf = Double.toString route: a 6-dp-rounded double prints
        // as its 6-dp decimal (spacing 1e-6 >> ulp), so setScale is exact
        (b.toLong, java.math.BigDecimal.valueOf(wv).setScale(6))
      }.toDF("bucket", "w")
        .select(col("bucket"), col("w").cast("decimal(18,6)").as("w")))
      val resid = feats.join(wDf, Seq("bucket"))
        .groupBy(col("id"))
        .agg((sum(col("x") * col("w")) - yCol)
          .cast("decimal(38,6)").as("r"))
      val gsums = feats.join(resid, Seq("id"))
        .groupBy(col("bucket"))
        .agg(sum(col("r") * col("x")).cast("decimal(38,6)").as("gs"))
        .collect().map(r => r.getLong(0) -> r.getDecimal(1)).toMap
      w = w.zipWithIndex.map { case (wv, b) =>
        val gs = gsums.get(b.toLong).map(_.doubleValue).getOrElse(0.0)
        val g = round6(gs / n)
        round6(wv - lr * g)
      }
      w.zipWithIndex.foreach { case (wv, b) => trajectory += ((it, b.toLong, wv)) }
    }
    trajectory.result().toIndexedSeq.toDF("iter", "bucket", "w")
  }

  /** VOCABULARY-GROWTH curve (the Heaps-law corpus diagnostic): docs are
    * laid on the id axis in `buckets` equal-width ranges, every distinct
    * shingle is attributed to the bucket of its FIRST-containing doc, and
    * the curve reports per-bucket new-shingle counts plus the running
    * vocabulary size. The "is more crawl still buying new content"
    * readout: a healthy corpus grows ~n^β (β≈0.5-0.7); a flattened curve
    * says the marginal crawl is re-collecting what the corpus already
    * holds (id order stands in for ingestion time, as in
    * [[noveltyScores]]).
    *
    * Scale shape: the first-occurrence table is the [[noveltyScores]]
    * partial-agg min; bucketing is closed-form from two driver scalars
    * (min/max id — one agg); the curve itself is `buckets` rows, so its
    * running sum is a window over a bucket-count-sized frame, never the
    * corpus. Returns (bucket, n_new, vocab_size) for buckets 0..buckets-1
    * (empty buckets present with n_new = 0).
    */
  def vocabGrowth(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, buckets: Int = 10): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val spark = docs.sparkSession
    val sh = Parallelism.ensureCompute(docs)
      .select(col(idCol).as("id"),
        explode(TextFunctions.hashedShingles(col(textCol), n)).as("s"))
    val firstSeen = sh.groupBy(col("s")).agg(min(col("id")).as("first_id"))
    val Array(rng) = docs.agg(
      min(col(idCol)).cast("long"), max(col(idCol)).cast("long")).collect()
    val (lo, hi) = (rng.getLong(0), rng.getLong(1))
    val span = hi - lo + 1
    // SQL `div` = exact integer division (Spark's `/` is double);
    // nonneg operands, so div == floor on both engines
    val bucketOf = least(lit(buckets.toLong - 1),
      expr(s"((first_id - $lo) * ${buckets}L) div ${span}L"))
    val perBucket = firstSeen
      .select(bucketOf.cast("long").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_new"))
    val axis = spark.range(buckets).select(col("id").as("bucket"))
    axis.join(perBucket, Seq("bucket"), "left_outer")
      .select(col("bucket"), coalesce(col("n_new"), lit(0L)).as("n_new"))
      .withColumn("vocab_size", sum(col("n_new")).over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("bucket"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
  }

  /** CHAO2 unseen-vocabulary estimate + sample coverage — the "how much
    * content does the FULL crawl hold that this corpus hasn't seen"
    * companion to [[vocabGrowth]] (that one plots the curve; this one
    * extrapolates it). Shingle presence per doc is INCIDENCE data
    * (each doc contributes a shingle at most once), so the right
    * richness estimator is Chao2 (Chao 1987, bias-corrected form):
    *
    *   D̂ = D + ((R−1)/R) · q₁(q₁−1) / (2(q₂+1))
    *
    * with D = observed distinct shingles, R = docs, q₁/q₂ = shingles
    * seen in exactly one/two docs; plus the Good–Turing sample
    * coverage `C = 1 − q₁/Σincidences` (the fraction of the incidence
    * mass belonging to already-seen vocabulary). Low coverage / high
    * D̂−D = more crawl still buys new content; coverage ≈ 1 = the
    * marginal crawl re-collects what the corpus already holds.
    *
    * Exactness: D, R, q₁, q₂ and the incidence total are exact BIGINTs
    * from two partial-agg passes; D̂ and C are fixed IEEE chains on
    * them (the q₁(q₁−1) product stays integer), 6-dp rounded — fully
    * oracle-replayable. Scale shape: shingle-keyed doc-frequency agg
    * (map-side combined) then a scalar fold; output is 1 row.
    */
  def vocabRichness(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val base = Parallelism.ensureCompute(docs)
    val nDocs = base.select(col(idCol)).distinct().count()
    require(nDocs > 0, "corpus has no documents")
    val freq = base
      .select(explode(TextFunctions.hashedShingles(col(textCol), n)).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("f"))
    val agg = freq.agg(
      count(lit(1)).as("d_observed"),
      sum(col("f")).as("n_incidences"),
      sum(when(col("f") === 1L, 1L).otherwise(0L)).as("q1"),
      sum(when(col("f") === 2L, 1L).otherwise(0L)).as("q2"))
    agg.select(
      lit(nDocs).as("n_docs"),
      col("d_observed"), col("n_incidences"), col("q1"), col("q2"),
      round(col("d_observed").cast("double") +
        (lit(nDocs - 1L).cast("double") / lit(nDocs).cast("double")) *
          ((col("q1") * (col("q1") - 1L)).cast("double") /
            (lit(2L) * (col("q2") + 1L)).cast("double")), 6).as("chao2"),
      round(lit(1.0) - col("q1").cast("double") /
        col("n_incidences").cast("double"), 6).as("coverage"))
  }

  /** DoReMi domain-reweighting trajectory (Xie et al. 2023, "DoReMi:
    * Optimizing Data Mixtures Speeds Up Language Model Pretraining",
    * Algorithm 1's Group-DRO exponentiated-gradient update): given a
    * proxy-training LOSS LOG of per-example excess losses
    * `(round, domain, excess)` — excess = proxy loss − reference loss,
    * the signal "this domain is still learnable" — compute the
    * domain-weight trajectory
    *
    *   λ_t(d) = mean over the round's examples of max(0, excess)
    *   e_t(d) = α_{t−1}(d) · exp(η·λ_t(d))
    *   α_t(d) = (1−c) · e_t(d)/Σ_d e_t(d) + c/k
    *
    * The tuned mixture ᾱ = mean_t α_t(d) is what the paper feeds the
    * full-size model's sampler (this engine's mixture/temperature
    * samplers take it directly).
    *
    * Scale shape: ONE corpus-sized pass — the (round, domain) partial
    * agg; everything after is a driver fold over rounds×domains scalars
    * (the Lloyd discipline: iterate with a tiny model, never collect
    * data). Missing (round, domain) cells mean "no evidence" → λ = 0 →
    * the weight only renormalizes.
    *
    * Exactness: per-example excess is 6-dp rounded then clipped and
    * summed as DECIMAL (order-free); each λ, e, α is re-rounded to
    * 6 dp after a fixed chain of single IEEE ops (`exp`/mult/divide
    * replay bit-for-bit on identical operands), so a SQL oracle replays
    * the entire trajectory as chained CTEs.
    *
    * Returns `(round, domain, excess, alpha)` — the full trajectory,
    * rounds × domains rows.
    */
  def doremiTrajectory(lossLog: DataFrame, roundCol: String,
      domainCol: String, lossCol: String, eta: Double = 0.5,
      smoothing: Double = 0.1): DataFrame = {
    require(eta > 0.0 && eta.isFinite, s"eta must be positive, got $eta")
    require(smoothing >= 0.0 && smoothing < 1.0,
      s"smoothing must be in [0,1), got $smoothing")
    val spark = lossLog.sparkSession
    val round6 = (v: Double) =>
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // a NULL/NaN/Infinite per-example loss must REFUSE, not deflate:
    // greatest() skips NULLs (and NaN casts to a NULL decimal that
    // sum() skips), so the row would still count in the per-cell mean
    // denominator — lambda silently shrinks and the oracle-
    // replayability contract breaks. The conformal null-refusal
    // discipline, priced inside the same single pass.
    val d = col(lossCol).cast("double")
    val nonFinite = d.isNull || isnan(d) ||
      d === Double.PositiveInfinity || d === Double.NegativeInfinity
    val cellRows = Parallelism.ensureCompute(lossLog)
      .groupBy(col(roundCol).cast("long").as("r"),
        col(domainCol).cast("string").as("d"))
      .agg(round(sum(greatest(round(col(lossCol).cast("double"), 6), lit(0.0))
        .cast("decimal(28,6)")).cast("double") / count(lit(1)), 6).as("x"),
        sum(when(nonFinite, 1L).otherwise(0L)).as("n_bad"))
      .collect() // bounded: rounds x domains scalars, the model itself
    val nBad = cellRows.map(_.getLong(3)).sum
    require(nBad == 0,
      s"doremi: $nBad null/NaN/Infinite per-example losses in the loss " +
        "log; every row must carry a finite excess loss (filter or " +
        "impute upstream)")
    val cells = cellRows
      .map(row => (row.getLong(0), row.getString(1)) -> row.getDouble(2))
      .toMap
    val rounds = cells.keys.map(_._1).toSeq.distinct.sorted
    val domains = cells.keys.map(_._2).toSeq.distinct.sorted
    val k = domains.size
    require(k >= 2, s"need >= 2 domains to reweight, got $k")
    val keep = 1.0 - smoothing
    val smooth = smoothing / k
    var alpha: Map[String, Double] =
      domains.map(_ -> round6(1.0 / k)).toMap
    val traj = Seq.newBuilder[(Long, String, Double, Double)]
    for (r <- rounds) {
      val lam = domains.map(d => d -> cells.getOrElse((r, d), 0.0)).toMap
      val e = domains.map(d => d -> round6(alpha(d) * math.exp(eta * lam(d)))).toMap
      // 6-dp values sum exactly as decimals — order-free Z
      val z = domains.map(d => BigDecimal(e(d)).setScale(6)).sum.toDouble
      alpha = domains.map(d => d -> round6(keep * (e(d) / z) + smooth)).toMap
      domains.foreach(d => traj += ((r, d, lam(d), alpha(d))))
    }
    import spark.implicits._
    traj.result().toDF("round", "domain", "excess", "alpha")
  }

  /** Split-conformal quality gate (Vovk et al.'s split/inductive
    * conformal prediction, one-sided): calibrate a KEEP threshold on a
    * vetted-GOOD sample so the gate provably discards at most `alpha`
    * of good data in expectation. With `n` exchangeable calibration
    * scores, the `k = floor((n+1)·alpha)`-th SMALLEST calibration score
    * is a lower conformal bound: a fresh good document scores below it
    * with probability ≤ alpha, so "keep `score >= threshold`" wrongly
    * drops ≤ alpha of good data — a finite-sample guarantee that holds
    * for ANY scorer, no model assumptions. This is the principled
    * replacement for the hand-picked quality cutoffs every pretraining
    * pipeline carries (the adaptive-cutoff operator picks a cutoff from
    * the pool's own distribution; this one calibrates it against
    * labeled-good data with a risk guarantee).
    *
    * Scale shape: the CALIBRATION set is the bounded side by design (a
    * human-vetted sample — thousands, not billions), so its exact
    * order statistic may ride a single-partition ranking window; the
    * pool is touched by one broadcast-threshold map pass plus one
    * partial agg for the report. Nothing pool-sized shuffles.
    *
    * Returns one report row: `(n_cal, k, threshold, n_pool, n_kept,
    * keep_rate, n_holdout, holdout_retention)` — `holdout` is a second
    * vetted-good sample measuring realized retention (should be
    * ≈ 1−alpha or better). Threshold/rates rounded to 6 dp; counts
    * BIGINT. Requires `k >= 1` (otherwise no finite threshold exists —
    * grow the calibration set or raise alpha).
    */
  def conformalGateReport(calib: DataFrame, pool: DataFrame,
      holdout: DataFrame, scoreCol: String, alpha: Double): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0,1), got $alpha")
    val s = col(scoreCol).cast("double")
    val calS = Parallelism.ensureCompute(calib).select(s.as("score"))
    // bounded by design: the vetted sample. One row of driver state.
    // A null calibration score (e.g. a failed cast) would occupy the
    // smallest ranks and silently shift the order statistic — the
    // guarantee dies quietly. Refuse instead.
    val calCounts = calS
      .agg(count(lit(1)).as("n"), count(col("score")).as("nonNull"))
      .collect()(0)
    val nCal = calCounts.getLong(0)
    require(calCounts.getLong(1) == nCal,
      s"calibration has ${nCal - calCounts.getLong(1)} null scores of " +
        s"$nCal; the conformal order statistic requires every " +
        "calibration row scored")
    val k = math.floor((nCal + 1) * alpha).toLong
    require(k >= 1, s"floor((n_cal+1)*alpha) = $k < 1: calibration set " +
      s"too small for alpha=$alpha (n_cal=$nCal)")
    val rankW = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").asc)
    val thr = calS.withColumn("rn", row_number().over(rankW))
      .where(col("rn") === k)
      .select(round(col("score"), 6).as("threshold"))
    val poolAgg = Parallelism.ensureCompute(pool).select(s.as("score"))
      .crossJoin(broadcast(thr))
      .agg(count(lit(1)).as("n_pool"),
        sum(when(col("score") >= col("threshold"), 1L).otherwise(0L))
          .as("n_kept"),
        first(col("threshold")).as("threshold"))
    val holdAgg = Parallelism.ensureCompute(holdout).select(s.as("score"))
      .crossJoin(broadcast(thr.select(col("threshold").as("h_thr"))))
      .agg(count(lit(1)).as("n_holdout"),
        sum(when(col("score") >= col("h_thr"), 1L).otherwise(0L))
          .as("n_held_kept"))
    // an empty pool or holdout would make first(threshold) NULL and the
    // rates NULL via 0/0 — a plausible-looking report row with NULL
    // guarantees. The operator's contract is refuse-instead-of-silently-
    // lie: raise at readout (zero extra passes).
    poolAgg.crossJoin(holdAgg)
      .select(
        lit(nCal).as("n_cal"), lit(k).as("k"), col("threshold"),
        col("n_pool"), col("n_kept"),
        when(col("n_pool") === 0, raise_error(lit(
          "conformal: empty pool — nothing to gate, the report would " +
            "carry NULL keep_rate")))
          .otherwise(round(col("n_kept").cast("double")
            / col("n_pool").cast("double"), 6)).as("keep_rate"),
        col("n_holdout"),
        when(col("n_holdout") === 0, raise_error(lit(
          "conformal: empty holdout — realized retention is unmeasurable")))
          .otherwise(round(col("n_held_kept").cast("double")
            / col("n_holdout").cast("double"), 6)).as("holdout_retention"))
  }
}
