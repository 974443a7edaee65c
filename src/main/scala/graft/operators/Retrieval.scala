package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lexical retrieval over a text corpus — the sparse counterpart of the
  * [[Similarity]] ANN family (a RAG stack runs both): inverted-index
  * construction and BM25 ranking (Robertson/Sparck Jones; the public
  * Okapi formulation). No analog in the reference (its queries are
  * key-equality only); added per the training-pipeline mandate — corpus
  * search underpins decontamination audits, dedup forensics and
  * retrieval-eval set construction.
  */
object Retrieval {

  /** Posting-list table: one row per term — document frequency, total
    * term frequency, and the sorted posting list of containing doc ids.
    *
    * Scale shape: one explode + one partial-agg shuffle keyed by term.
    * Posting lists are per-term state, and for stopword-tier terms that
    * state is corpus-sized — so the df BAND ([minDf, maxDfFraction·N])
    * is applied BEFORE list materialization: a first partial-agg pass
    * computes df (counts only, no lists), the band survivors (the
    * useful vocabulary — stopwords carry no retrieval signal and
    * hapaxes no reuse) are semi-joined back, and only their postings
    * aggregate. At 100 TB the band is what keeps the widest row
    * bounded; to index stopwords too, shard the term key (the salted-agg
    * pattern, `Scale.saltedAgg`).
    */
  def invertedIndex(docs: DataFrame, idCol: String, textCol: String,
      minDf: Long = 1L, maxDfFraction: Double = 1.0): DataFrame = {
    require(minDf >= 1, s"minDf must be >= 1, got $minDf")
    require(maxDfFraction > 0 && maxDfFraction <= 1.0,
      s"maxDfFraction must be in (0,1], got $maxDfFraction")
    val n = Parallelism.ensureCompute(docs).count().toDouble
    val terms = Parallelism.ensureCompute(docs)
      .select(col(idCol).as("id"), explode(split(col(textCol), " ")).as("term"))
      .where(col("term") =!= "")
    val banded = terms.groupBy(col("term"))
      .agg(countDistinct(col("id")).as("df"))
      .where(col("df") >= minDf && col("df") <= (maxDfFraction * n).toLong)
    terms.join(banded, Seq("term"), "left_semi")
      .groupBy(col("term"))
      .agg(countDistinct(col("id")).as("df"),
        count(lit(1)).as("tf_total"),
        array_sort(collect_set(col("id"))).as("postings"))
  }

  /** BM25 top-k: score every document against a bag of query terms and
    * keep the k best (ties broken by ascending id). Okapi BM25 with the
    * standard (k1, b) saturation/length normalization and the
    * `ln((N - df + 0.5)/(df + 0.5) + 1)` idf (the Lucene-style shifted
    * form — never negative).
    *
    * Scale shape: corpus statistics collapse to |terms|+2 driver scalars
    * in ONE partial-agg pass (N, avgdl and every query term's df ride a
    * single aggregation — df_t as `sum(contains(ws, t))`, the query
    * terms being a driver-known handful); scoring is then a MAP-ONLY
    * second pass (per-term tf via codegen'd array HOFs, idf folded in
    * as literals) and the top-k plans as TakeOrderedAndProject —
    * per-partition heaps of k rows, no global sort at any corpus size.
    * Two corpus scans total, the information-theoretic floor for a
    * corpus-normalized score.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(k > 0, s"k must be positive, got $k")
    val base = Parallelism.ensureCompute(docs)
      .select(col(idCol).as("id"), split(col(textCol), " ").as("ws"))
      .withColumn("dl", size(col("ws")).cast("double"))
    val distinctTerms = queryTerms.distinct
    val statAggs = Seq(count(lit(1)), avg(col("dl"))) ++
      distinctTerms.map(t =>
        sum(when(array_contains(col("ws"), t), 1L).otherwise(0L)))
    val Array(nRow) = base.agg(statAggs.head, statAggs.tail: _*).collect()
    val (n, avgdl) = (nRow.getLong(0).toDouble, nRow.getDouble(1))
    val dfs: Map[String, Long] = distinctTerms.zipWithIndex
      .map { case (t, i) => t -> nRow.getLong(i + 2) }.toMap
    // fixed term order on both engines: the floating adds run in the
    // same sequence, so scores are bit-identical to the oracle's
    val score = queryTerms.sorted.map { t =>
      val dft = dfs.getOrElse(t, 0L).toDouble
      val idf = math.log((n - dft + 0.5) / (dft + 0.5) + 1.0)
      val tf = size(filter(col("ws"), w => w === t)).cast("double")
      lit(idf) * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl)))
    }.reduce(_ + _)
    base.select(col("id"), round(score, 6).as("score"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(k)
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009): fuse N
    * rankings of one id space by `score(id) = Σ_i 1/(c + rank_i(id))`,
    * an id absent from a list contributing 0 for that list. The standard
    * hybrid-retrieval combiner (lexical BM25 + dense ANN) — rank-based,
    * so the lists' score scales never need calibrating against each
    * other.
    *
    * Determinism: each reciprocal is one IEEE division of exact
    * integers, and the terms add in the Seq's declaration order (a fixed
    * left fold on both engines), so fused scores are bit-identical to an
    * oracle that writes the same additions in the same order; scores are
    * still rounded to 9 dp before ranking as rank-boundary insurance.
    *
    * Scale shape: the inputs are already per-list top-k tables (bounded),
    * so the full-outer merge and the final rank run on ≤ N·k rows — the
    * single-partition rank window is bounded by construction, never
    * corpus-sized. Output: id, each list's rank (null = absent), the
    * fused score, and `fused_rank` 1..k.
    */
  def rrfFuse(rankings: Seq[(String, DataFrame)], idCol: String,
      rankCol: String, k: Int, c: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(k > 0, s"k must be positive, got $k")
    require(c >= 0, s"c must be non-negative, got $c")
    val joined = rankings.map { case (nm, df) =>
      df.select(col(idCol).as("id"), col(rankCol).cast("long").as(s"rank_$nm"))
    }.reduce((a, b) => a.join(b, Seq("id"), "full_outer"))
    val score = rankings.map { case (nm, _) =>
      coalesce(lit(1.0) / (lit(c).cast("double") + col(s"rank_$nm").cast("double")),
        lit(0.0))
    }.reduce(_ + _)
    val w = Window.orderBy(col("rrf_score").desc, col("id").asc)
    joined.withColumn("rrf_score", round(score, 9))
      .orderBy(col("rrf_score").desc, col("id").asc).limit(k)
      .withColumn("fused_rank", row_number().over(w))
  }

  /** PMI collocation mining (Church & Hanks 1990): bigrams whose joint
    * frequency beats the independence assumption,
    * `pmi = ln(c_xy · N_u² / (N_b · c_x · c_y))` — the collocation
    * detector behind tokenizer-merge candidates, multi-word-expression
    * vocabularies and corpus drift reports.
    *
    * Determinism: every count is an exact BIGINT; the PMI argument is ONE
    * IEEE division of two exact integer products, then one `ln` — both
    * bit-identical across engines (the q110/q121 ln discipline), rounded
    * to 6 dp at the end only.
    *
    * Scale shape: two corpus scans exactly — one unigram-keyed and one
    * bigram-keyed partial-agg shuffle (both vocabulary-sized after
    * map-side combine, never corpus-sized); the corpus TOTALS derive
    * from those grouped tables (`N_u = Σ c`, `N_b = Σ c_xy` over the
    * un-banded bigram counts), not from extra corpus passes — the
    * grouped tables are pinned (vocab-sized) and one driver action reads
    * both sums; the scored result is detached, so the pins are released
    * before returning. The `minCount` band prunes the
    * bigram tail AFTER the total but BEFORE the unigram joins, so the
    * join probes carry only the survivors. Overflow contract: exact while
    * `c_xy · N_u² < 2⁶³` — beyond ~10¹⁸ total tokens, shift the products
    * into log space (`ln c_xy + 2 ln N_u − …`) at a last-ulp cost.
    */
  def pmiCollocations(docs: DataFrame, textCol: String,
      minCount: Long): DataFrame = Pins.scoped { s =>
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val base = Parallelism.ensureCompute(docs)
    val uni = base.select(explode(split(col(textCol), " ")).as("t"))
    val uniCounts = s.pin(uni.groupBy(col("t")).agg(count(lit(1)).as("c")))
    val bi = base.select(explode(
      graft.functions.TextFunctions.wordNGrams(col(textCol), 2)).as("bg"))
    val biAll = s.pin(bi.groupBy(col("bg")).agg(count(lit(1)).as("c_xy")))
    val Array(totals) = uniCounts.agg(coalesce(sum(col("c")), lit(0L)))
      .crossJoin(biAll.agg(coalesce(sum(col("c_xy")), lit(0L)))).collect()
    val (nU, nB) = (totals.getLong(0), totals.getLong(1))
    Pins.detach(biAll.where(col("c_xy") >= minCount)
      .withColumn("term_a", split(col("bg"), " ").getItem(0))
      .withColumn("term_b", split(col("bg"), " ").getItem(1))
      .join(uniCounts.select(col("t").as("term_a"), col("c").as("c_a")), Seq("term_a"))
      .join(uniCounts.select(col("t").as("term_b"), col("c").as("c_b")), Seq("term_b"))
      .select(col("term_a"), col("term_b"), col("c_xy"),
        round(log((col("c_xy") * lit(nU) * lit(nU)).cast("double") /
          (lit(nB) * col("c_a") * col("c_b")).cast("double")), 6).as("pmi")))
  }

  /** Dense RERANK of a lexical candidate list — the standard two-stage
    * retrieval pipeline (BM25 recall, embedding precision): join the
    * candidate ids to their vectors, score each against a literal query
    * vector by exact cosine, keep the top `k`. Complements [[rrfFuse]]:
    * fusion merges two FULL rankings rank-wise; rerank REPLACES the
    * lexical order inside the candidate set with the dense order —
    * candidates outside stage 1 are unreachable by construction, which
    * is what caps the dense cost.
    *
    * Scale shape: `candidates` is top-k-sized (the output of
    * [[bm25TopK]] / an ANN probe), so it BROADCASTS to the vector
    * table and the join degenerates to a map-side probe of the
    * partition-pruned vector store; cosine is the codegen'd native
    * expression against a literal query vector; final top-k is
    * TakeOrderedAndProject. The corpus-sized vector table never
    * shuffles and is scanned at most once.
    *
    * Sims round to 6 dp BEFORE ranking (rank boundaries
    * engine-stable); ties break by ascending id. Returns
    * (id, <scoreCol>, sim, rank).
    */
  def rerankByCosine(candidates: DataFrame, idCol: String, scoreCol: String,
      vectors: DataFrame, vIdCol: String, vecCol: String,
      queryVec: Array[Float], k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(queryVec != null && queryVec.nonEmpty, "queryVec required")
    val qv = array(queryVec.map(x => lit(x)): _*).cast("array<float>")
    val cand = candidates.select(col(idCol).as("id"),
      col(scoreCol).as(scoreCol))
    val vecs = Parallelism.ensureCompute(vectors)
      .select(col(vIdCol).as("id"), col(vecCol).as("__vec"))
    vecs.join(broadcast(cand), Seq("id"))
      .withColumn("sim",
        round(graft.plans.VectorExpressions.cosine(col("__vec"), qv), 6))
      .orderBy(col("sim").desc, col("id").asc)
      .limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("sim").desc, col("id").asc)).cast("long"))
      .select(col("id"), col(scoreCol), col("sim"), col("rank"))
  }

  /** nDCG@k ranking evaluation (Järvelin & Kekäläinen 2002): graded
    * gains `(2^rel − 1) / log₂(rank + 1)`, normalized by the ideal DCG
    * over the CORPUS-wide relevance table (rel DESC, id ASC — a ranker
    * is penalized for missing relevant docs entirely, not just for
    * ordering its hits badly). The eval readout for the retrieval
    * family (q110 BM25, q136 RRF, q154 rerank) — "measure, don't
    * guess" applied to ranking quality, as q133 applies it to LSH
    * recall.
    *
    * Exactness: each rank's term is one fixed chain of IEEE ops
    * (pow, ln, two divisions) rounded 6 dp; the k-term sums run
    * through DECIMAL (order-independent); the final ratio is one
    * division. Missing relevance joins as 0 gain.
    *
    * Scale shape: `ranked` is top-k-sized by construction; the ideal
    * prefix is one TakeOrdered(k) over the relevance table; the join
    * broadcasts the k-row side. One row out.
    */
  def ndcgAtK(ranked: DataFrame, idCol: String, rankCol: String,
      rels: DataFrame, relIdCol: String, relCol: String, k: Int): DataFrame = {
    require(k >= 1 && k <= 1000, s"k must be in [1, 1000], got $k")
    val ln2 = math.log(2.0)
    val term = (rel: Column, rank: Column) =>
      round((pow(lit(2.0), rel.cast("double")) - lit(1.0)) /
        (log(rank.cast("double") + lit(1.0)) / lit(ln2)), 6)
        .cast("decimal(18,6)")
    val r = Parallelism.ensureCompute(rels)
      .select(col(relIdCol).as("rid"), col(relCol).as("rel"))
    val dcg = ranked.where(col(rankCol) <= k)
      .select(col(idCol).as("id"), col(rankCol).as("rank"))
      .join(broadcast(r).withColumnRenamed("rid", "id"), Seq("id"), "left_outer")
      .agg(sum(term(coalesce(col("rel"), lit(0L)), col("rank")))
        .cast("decimal(38,6)").as("dcg_d"))
    val ideal = r.orderBy(col("rel").desc, col("rid").asc).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("rel").desc, col("rid").asc)).cast("long"))
      .agg(sum(term(col("rel"), col("rank")))
        .cast("decimal(38,6)").as("idcg_d"))
    dcg.crossJoin(ideal).select(
      round(col("dcg_d").cast("double"), 6).as("dcg"),
      round(col("idcg_d").cast("double"), 6).as("idcg"),
      round(col("dcg_d").cast("double") / col("idcg_d").cast("double"), 6)
        .as("ndcg"))
  }
}
