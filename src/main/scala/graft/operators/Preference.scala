package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pairwise-PREFERENCE analytics — the RLHF/eval half of the data
  * pipeline: given a log of "A beat B" comparisons (human preference
  * pairs, A/B test exposures, model-vs-model eval games), recover a
  * per-item strength scale and a small-sample-honest ranking.
  *
  *  - [[adjacentComparisons]] — turn an event log into comparisons
  *    (each user's consecutive events duel; higher value wins).
  *  - [[btStrengths]] — Bradley–Terry strengths via the MM algorithm
  *    (Hunter 2004, "MM algorithms for generalized Bradley–Terry
  *    models", Annals of Statistics §1-2). The batch analog of Elo:
  *    order-independent, so it distributes (Elo's sequential update
  *    does not).
  *  - [[wilsonLowerBound]] — Wilson score interval lower bound
  *    (Wilson 1927): rank items by the PESSIMISTIC win rate, so a
  *    2-0 newcomer does not outrank a 180-20 incumbent.
  *
  * No analog in the reference (`themovies.py` has no preference data);
  * added per the training-pipeline mandate — preference pairs are the
  * post-training counterpart of the pretraining corpus and arrive at
  * the same scale.
  *
  * Scale shape: comparisons reduce to a (winner, loser)-keyed count
  * matrix in ONE partial-agg shuffle; items (models, policies, prompt
  * templates) number in the hundreds, so every MM iteration runs on a
  * model-sized table (the Lloyd's/codebook discipline — iterate on the
  * tiny state, never re-shuffle the corpus).
  *
  * Exactness/portability: strengths live as DECIMAL; the only IEEE ops
  * are per-term divisions of identical operand doubles, each captured
  * to DECIMAL(25,10) before the order-independent decimal sum (the
  * q121 per-contribution capture discipline), then one division per
  * item per iteration. sqrt in the Wilson bound is IEEE
  * correctly-rounded, hence bit-equal across engines. The DuckDB
  * oracles replay every iteration.
  */
object Preference {

  /** Comparisons from an event log: within each `userCol` partition,
    * order by (`tsCol`, `idCol`) and duel each event against its
    * successor — higher `valueCol` wins, value ties go to the
    * lexicographically smaller item, same-item pairs are dropped.
    * Output: (user, winner, loser), one row per decided duel — the
    * user column is the PAIRING unit downstream per-user tests
    * (q285's promotion gate) group on.
    *
    * Scale shape: one window sort per user partition (the q29
    * sessionize shuffle), then map-side arithmetic — no further
    * shuffle; the output feeds [[btStrengths]]'s single count agg.
    */
  def adjacentComparisons(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, itemCol: String, valueCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    Parallelism.ensureCompute(events)
      .select(col(userCol), col(tsCol), col(idCol),
        col(itemCol).as("item"), col(valueCol).as("v"))
      .withColumn("nxt_item", lead(col("item"), 1).over(w))
      .withColumn("nxt_v", lead(col("v"), 1).over(w))
      .where(col("nxt_item").isNotNull && col("item") =!= col("nxt_item"))
      .select(
        col(userCol).as("user"),
        when(col("v") > col("nxt_v"), col("item"))
          .when(col("nxt_v") > col("v"), col("nxt_item"))
          .when(col("item") < col("nxt_item"), col("item"))
          .otherwise(col("nxt_item")).as("winner"),
        when(col("v") > col("nxt_v"), col("nxt_item"))
          .when(col("nxt_v") > col("v"), col("item"))
          .when(col("item") < col("nxt_item"), col("nxt_item"))
          .otherwise(col("item")).as("loser"))
  }

  /** Bradley–Terry strengths by `iters` MM iterations from the flat
    * start π⁰ = 1 (Hunter 2004 eq. 2):
    *
    *   π_i ← W_i / Σ_{j≠i} N_ij / (π_i + π_j)
    *
    * with W_i = total wins of i and N_ij = games between i and j. Each
    * MM step provably increases the BT likelihood from any positive
    * start; a FIXED iteration count (like the q71 Lloyd's rounds and
    * the q88 PageRank) keeps the trajectory an oracle-replayable
    * closed form rather than a convergence race. A zero-win item takes
    * strength 0 at the first step and keeps it — the MLE boundary
    * case, deterministic on both engines.
    *
    * Input: a (winner, loser) comparison log. Output: one row per
    * item — (item, wins, games, strength) with strength the π
    * normalized to sum 1 and captured at 6 dp.
    *
    * Arithmetic: N_ij, W_i exact BIGINT; π decimal(20,10); each MM
    * term `N_ij / (π_i + π_j)` is one division of identical operand
    * doubles captured to DECIMAL(25,10); the Σ_j is an exact decimal
    * sum (order-independent under any partitioning); the update is one
    * more captured division. The corpus-sized work is exactly ONE
    * partial-agg shuffle (the (winner, loser) count matrix) —
    * iterations never touch the comparison log again.
    */
  def btStrengths(comparisons: DataFrame, iters: Int = 5): DataFrame =
    fitFromMatrix(countMatrix(comparisons), iters)

  /** The (winner, loser, n) directed count matrix — the ONLY
    * corpus-sized pass of the band (one partial-agg shuffle), pinned
    * local so downstream model-sized work never replays it. Counters
    * are ADDITIVE across shards/days: maintain per-batch matrices and
    * [[mergeMatrices]] them — history is never rescanned (the q143
    * count-min / q91 incremental-agg discipline).
    */
  def countMatrix(comparisons: DataFrame): DataFrame =
    Parallelism.ensureCompute(comparisons)
      .groupBy(col("winner"), col("loser")).agg(count(lit(1)).as("n"))
      .localCheckpoint()

  /** Counter addition of two count matrices: merge(m1, m2) equals the
    * from-scratch matrix over the concatenated logs bit-for-bit.
    */
  def mergeMatrices(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("winner"), col("loser")).agg(sum(col("n")).as("n"))

  /** The MM fit from a prebuilt (winner, loser, n) matrix — see
    * [[btStrengths]] for semantics and arithmetic.
    */
  def fitFromMatrix(matrix: DataFrame, iters: Int = 5): DataFrame = {
    require(iters >= 1 && iters <= 64, s"iters must be in [1, 64], got $iters")
    val dirPairs = matrix.select(col("winner"), col("loser"),
      col("n").cast("long").as("n")).localCheckpoint()
    val wins0 = dirPairs.groupBy(col("winner").as("item"))
      .agg(sum(col("n")).as("wins"))
    // pinned: every MM iteration (and items/g below) reads games2 — an
    // un-pinned plan re-runs the union + partial agg once per consumer
    // (optimization round 13; model-sized, one materialization)
    val games2 = dirPairs
      .select(col("winner").as("i"), col("loser").as("j"), col("n"))
      .unionAll(dirPairs
        .select(col("loser").as("i"), col("winner").as("j"), col("n")))
      .groupBy(col("i"), col("j")).agg(sum(col("n")).as("n"))
      .localCheckpoint()
    val items = games2.select(col("i").as("item")).distinct()
    val w = items.join(wins0, Seq("item"), "left_outer")
      .select(col("item"), coalesce(col("wins"), lit(0L)).as("wins"))
      .localCheckpoint()
    val g = games2.groupBy(col("i").as("item")).agg(sum(col("n")).as("games"))
    var pi = w.select(col("item"),
      lit(java.math.BigDecimal.ONE).cast("decimal(20,10)").as("pi"))
    for (_ <- 1 to iters) {
      val terms = games2
        .join(pi.select(col("item").as("i"), col("pi").as("pi_i")), Seq("i"))
        .join(pi.select(col("item").as("j"), col("pi").as("pi_j")), Seq("j"))
        .select(col("i").as("item"),
          (col("n").cast("double") / (col("pi_i") + col("pi_j")).cast("double"))
            .cast("decimal(25,10)").as("t"))
      val denom = terms.groupBy(col("item")).agg(sum(col("t")).as("den"))
      // model-sized barrier: each iteration references pi TWICE, so an
      // un-pinned lazy plan doubles per pass (2^iters nodes — the same
      // exponential the DuckDB replay hit before AS MATERIALIZED)
      pi = w.join(denom, Seq("item"))
        .select(col("item"),
          (col("wins").cast("double") / col("den").cast("double"))
            .cast("decimal(20,10)").as("pi"))
        .localCheckpoint()
    }
    // normalize to a probability scale: 1-row scalar attach (the house
    // crossJoin-scalar pattern), one division per item, 6-dp capture
    val tot = pi.agg(sum(col("pi")).as("pi_sum"))
    pi.join(w, Seq("item")).join(g, Seq("item"))
      .crossJoin(tot)
      .select(col("item"), col("wins"), col("games"),
        (col("pi").cast("double") / col("pi_sum").cast("double"))
          .cast("decimal(18,6)").cast("double").as("strength"))
  }

  /** PREFERENCE-COHERENCE audit — "is a single strength scale even
    * valid for this comparison log?": per unordered pair, the observed
    * win rate vs the Bradley–Terry prediction `s_a/(s_a+s_b)` and
    * their absolute deviation (large deviations = pairs the 1-D scale
    * cannot explain: context-dependent preferences, rater factions,
    * nontransitive matchups); plus, attached as scalars, the
    * strict-majority tournament's triad census — decided triples and
    * CYCLIC triples (i beats j beats k beats i, the rock-paper-
    * scissors count no scalar rating can ever fit).
    *
    * Scale shape: everything derives from the one [[countMatrix]]
    * pass; the pair frame, the MM fit, the majority edges and the
    * triad joins are all K- or K²-sized (items number in the
    * hundreds). The triad self-joins are K³ worst case — model-sized,
    * never the corpus, and PRICED BEFORE EXECUTION like every
    * super-linear surface in this engine: the item count (a counts-only
    * read of the matrix) is checked against `maxItems` and the call
    * refuses loudly rather than silently launching a cubic join over a
    * million-item log. Returns one row per compared pair:
    * (item_a, item_b, wins_a, wins_b, p_obs, p_bt, abs_dev,
    * n_decided_triads, n_cyclic_triads).
    */
  def coherenceReport(comparisons: DataFrame, iters: Int = 5,
      maxItems: Int = 1000): DataFrame = {
    val m = countMatrix(comparisons)
    val k = m.select(col("winner")).unionAll(m.select(col("loser")))
      .distinct().count()
    require(k <= maxItems,
      s"coherenceReport: $k items exceed maxItems=$maxItems — the triad " +
        "census is O(K^3) in items; raise maxItems only with the cost priced")
    val st = fitFromMatrix(m, iters)
    val pairs = m
      .select(least(col("winner"), col("loser")).as("item_a"),
        greatest(col("winner"), col("loser")).as("item_b"),
        when(col("winner") < col("loser"), col("n")).otherwise(0L).as("na"),
        when(col("winner") > col("loser"), col("n")).otherwise(0L).as("nb"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(sum(col("na")).as("wins_a"), sum(col("nb")).as("wins_b"))
      .localCheckpoint()
    val fit = pairs
      .join(st.select(col("item").as("item_a"), col("strength").as("s_a")),
        Seq("item_a"))
      .join(st.select(col("item").as("item_b"), col("strength").as("s_b")),
        Seq("item_b"))
      .select(col("item_a"), col("item_b"), col("wins_a"), col("wins_b"),
        round(col("wins_a").cast("double") /
          (col("wins_a") + col("wins_b")).cast("double"), 6).as("p_obs"),
        round(col("s_a") / (col("s_a") + col("s_b")), 6).as("p_bt"))
      .withColumn("abs_dev", round(abs(col("p_obs") - col("p_bt")), 6))
    // strict-majority edges; a 3-subtournament with all edges decided
    // is either transitive or ONE directed 3-cycle, so each cyclic
    // triad is counted once by pinning x as the smallest rotation
    val decided = pairs.where(col("wins_a") =!= col("wins_b"))
      .select(col("item_a").as("pa"), col("item_b").as("pb"),
        when(col("wins_a") > col("wins_b"), col("item_a"))
          .otherwise(col("item_b")).as("src"),
        when(col("wins_a") > col("wins_b"), col("item_b"))
          .otherwise(col("item_a")).as("dst"))
    val nDecidedTriads = decided.select(col("pa").as("a"), col("pb").as("b"))
      .join(decided.select(col("pa").as("b"), col("pb").as("c")), Seq("b"))
      .join(decided.select(col("pa").as("a"), col("pb").as("c")), Seq("a", "c"))
      .count()
    val nCyclic = decided.select(col("src").as("x"), col("dst").as("y"))
      .join(decided.select(col("src").as("y"), col("dst").as("z")), Seq("y"))
      .join(decided.select(col("src").as("z"), col("dst").as("x")),
        Seq("z", "x"))
      .where(col("x") < col("y") && col("x") < col("z"))
      .count()
    fit.crossJoin(comparisons.sparkSession.range(1)
      .select(lit(nDecidedTriads).as("n_decided_triads"),
        lit(nCyclic).as("n_cyclic_triads")))
  }

  /** CLUSTER-BOOTSTRAP confidence intervals on the Bradley–Terry
    * strengths: resample USERS with replacement (the exchangeable
    * unit — comparisons within a user are correlated, so the user is
    * the honest resampling cluster, the same pairing logic as the
    * q285 gate) via the deterministic LCG stream
    * ([[Significance.lcgScramble]]), rebuild each replicate's count
    * matrix by COUNTER ADDITIVITY of the per-user sub-matrices (the
    * comparison log is never rescanned per replicate), and fit ALL
    * `nBoot` replicates in ONE batched b-keyed MM chain. Output per
    * item: the full-sample fit (wins, games, strength) plus
    * nearest-rank percentile CI bounds over the replicates containing
    * the item and that replicate count.
    *
    * Scale shape: corpus-sized work is one (user, winner, loser)
    * partial agg + the one full-fit matrix pass; draws are B×U rows
    * (USERS, not comparisons); the batched chain is B·K²-sized with a
    * model-sized checkpoint per iteration. Percentile ranks use the
    * INTEGER forms `ceil(R/40)` / `ceil(39R/40)`: the double
    * `ceil(0.025·R)` is wrong exactly at the common R (binary 0.025
    * makes 0.025·200 = 5.0000000000000003 → ceil 6), so no float ever
    * touches the rank.
    */
  def bootstrapStrengths(comparisons: DataFrame, nBoot: Int = 200,
      iters: Int = 5): DataFrame = {
    require(nBoot >= 10 && nBoot <= 10000,
      s"nBoot must be in [10, 10000], got $nBoot")
    val spark = comparisons.sparkSession
    val comps = Parallelism.ensureCompute(comparisons).localCheckpoint()
    val um = comps.groupBy(col("user"), col("winner"), col("loser"))
      .agg(count(lit(1)).as("n")).localCheckpoint()
    val ranked = TrainingPrep.globalPrefixSum(
      um.select(col("user")).distinct().withColumn("__one", lit(1L)),
      "user", "__one", "__cum")
      .select(col("user"), (col("__cum") - 1L).as("rn"))
    val nU = ranked.count()
    require(nU > 0, "empty comparison log")
    val draws = spark.range(nBoot).select(col("id").as("b"))
      .crossJoin(ranked.select(col("rn").as("i")))
      .select(col("b"),
        (Significance.lcgScramble(col("b") * lit(nU) + col("i") + lit(1L))
          % lit(nU)).as("rn"))
    val rm = draws.join(ranked, Seq("rn")).join(um, Seq("user"))
      .groupBy(col("b"), col("winner"), col("loser"))
      .agg(sum(col("n")).as("n")).localCheckpoint()
    // batched MM: the q276 chain with a replicate key on every join
    val bw = rm.groupBy(col("b"), col("winner").as("item"))
      .agg(sum(col("n")).as("wins"))
    val bg = rm.select(col("b"), col("winner").as("i"), col("loser").as("j"),
        col("n"))
      .unionAll(rm.select(col("b"), col("loser").as("i"),
        col("winner").as("j"), col("n")))
      .groupBy(col("b"), col("i"), col("j")).agg(sum(col("n")).as("n"))
      .localCheckpoint()
    val bi = bg.select(col("b"), col("i").as("item")).distinct()
    val bwf = bi.join(bw, Seq("b", "item"), "left_outer")
      .select(col("b"), col("item"), coalesce(col("wins"), lit(0L)).as("wins"))
      .localCheckpoint()
    var pi = bwf.select(col("b"), col("item"),
      lit(java.math.BigDecimal.ONE).cast("decimal(20,10)").as("pi"))
    for (_ <- 1 to iters) {
      val terms = bg
        .join(pi.select(col("b"), col("item").as("i"), col("pi").as("pi_i")),
          Seq("b", "i"))
        .join(pi.select(col("b"), col("item").as("j"), col("pi").as("pi_j")),
          Seq("b", "j"))
        .select(col("b"), col("i").as("item"),
          (col("n").cast("double") / (col("pi_i") + col("pi_j")).cast("double"))
            .cast("decimal(25,10)").as("t"))
      val denom = terms.groupBy(col("b"), col("item"))
        .agg(sum(col("t")).as("den"))
      pi = bwf.join(denom, Seq("b", "item"))
        .select(col("b"), col("item"),
          (col("wins").cast("double") / col("den").cast("double"))
            .cast("decimal(20,10)").as("pi"))
        .localCheckpoint()
    }
    // the full-sample fit reuses the per-user matrix already built:
    // its (winner, loser) matrix is um re-aggregated — exact integer
    // counter additivity, one corpus window pass instead of two
    // (optimization round 13; btStrengths(comps) would re-scan comps)
    val fullFit = fitFromMatrix(
      um.groupBy(col("winner"), col("loser")).agg(sum(col("n")).as("n"))
        .localCheckpoint(), iters)
    val btot = pi.groupBy(col("b")).agg(sum(col("pi")).as("pi_sum"))
    val bs = pi.join(btot, Seq("b"))
      .select(col("b"), col("item"),
        (col("pi").cast("double") / col("pi_sum").cast("double"))
          .cast("decimal(18,6)").cast("double").as("s"))
      .localCheckpoint()
    // CI bounds + replicate counts in ONE window pass and ONE item-keyed
    // agg (optimization round 13; was an rs groupBy + two filtered
    // rs-joins + a three-join tail — same nearest-rank order statistics,
    // 4 fewer joins, and the agg reuses the window's item partitioning)
    val w = Window.partitionBy(col("item"))
    val ci = bs
      .withColumn("r", row_number().over(
        w.orderBy(col("s"), col("b"))).cast("long"))
      .withColumn("n_reps", count(lit(1)).over(w))
      .groupBy(col("item")).agg(
        min(when(col("r") === expr("(n_reps + 39) div 40"), col("s")))
          .as("ci_lo"),
        min(when(col("r") === expr("(39 * n_reps + 39) div 40"), col("s")))
          .as("ci_hi"),
        min(col("n_reps")).as("n_reps"))
    fullFit.join(ci, Seq("item"))
  }

  /** Wilson score-interval LOWER bound on a binomial proportion
    * (Wilson 1927) at confidence multiplier `z`:
    *
    *   ( p̂ + z²/2n − z·√( (p̂(1−p̂) + z²/4n) / n ) ) / (1 + z²/n)
    *
    * The small-sample-honest ranking key: a raw win rate ranks 2-0
    * above 180-20; the Wilson bound does not. Every operation is a
    * single IEEE double op on identical operands in a fixed tree —
    * sqrt is correctly-rounded per IEEE 754, so the whole expression
    * is bit-portable without any capture until the caller rounds.
    */
  def wilsonLowerBound(wins: Column, games: Column, z: Double = 1.96): Column = {
    val n = games.cast("double")
    val p = wins.cast("double") / n
    val z2 = lit(z) * lit(z)
    (p + z2 / (lit(2.0) * n)
      - lit(z) * sqrt((p * (lit(1.0) - p) + z2 / (lit(4.0) * n)) / n)) /
      (lit(1.0) + z2 / n)
  }
}
