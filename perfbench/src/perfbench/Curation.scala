package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.operators.{Dedup, MinHashDedup, Similarity}

/** Seeded corpus with planted duplicates and its ground truth.
  *
  * Documents: random texts, exact copies (removed by content hash),
  * near-duplicate clusters made by one-word substitutions (word 3-shingle
  * Jaccard computed here, exactly), and one boilerplate cluster larger
  * than the MinHash bucket cap. Embeddings: a mixture of Gaussian blobs
  * (so IVF lists mean something) with planted near-duplicate clusters at
  * cosine well above the semantic-dedup threshold.
  */
object CurationGen {
  val RandomDocs = 500
  val ExactCopies = 60
  val NearClusters = 60
  val BoilerplateDocs = 96
  val Cfg: MinHashDedup.Config = MinHashDedup.Config(maxBucketSize = 64)
  /** Planted pairs at or above this Jaccard must be found; LSH misses one
    * with probability below 1e-4 at the config's 16 bands of 4.
    */
  val MustFindJaccard = 0.84

  val Vectors = 600
  val Dim = 64
  val Blobs = 16
  val NearVectorClusters = 50
  val Tau = 0.9
  val Queries = 32
  val K = 10
  val NProbe = 3

  final case class Doc(id: Long, text: String)

  final case class Corpus(
      docs: IndexedSeq[Doc],
      exactGroups: Seq[Seq[Long]],
      nearClusters: Seq[Seq[Long]],
      boilerplate: Set[Long],
      plantedPairs: Seq[(Long, Long, Double)], // (idA < idB, exact Jaccard)
      vectors: IndexedSeq[(Long, Array[Float])],
      nearVectors: Seq[Seq[Long]],
      queries: IndexedSeq[(Long, Array[Float])])

  def shingles(text: String): Set[String] =
    text.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet

  def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    (x intersect y).size.toDouble / (x union y).size
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d, na, nb = 0.0
    var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    d / math.sqrt(na * nb)
  }

  def generate(seed: Long): Corpus = {
    val r = EtlGen.rng(seed, 7)
    // 3000 distinct words: i * 7919 is a bijection modulo the prime 100003.
    val vocab = (0 until 3000).map(i => "w" + Integer.toString(i * 7919 % 100003, 36))
    def text(n: Int) = Seq.fill(n)(vocab(r.nextInt(vocab.size))).mkString(" ")
    def substitute(t: String): String = {
      val w = t.split(" ")
      w(1 + r.nextInt(w.length - 2)) = vocab(r.nextInt(vocab.size))
      w.mkString(" ")
    }
    val texts = mutable.ArrayBuffer.empty[(String, String)] // (group tag, text)
    (0 until RandomDocs).foreach(_ => texts += (("random", text(40 + r.nextInt(40)))))
    (0 until ExactCopies).foreach(i => texts += ((s"exact$i", texts(i)._2)))
    texts.indices.take(ExactCopies).foreach(i => texts(i) = (s"exact$i", texts(i)._2))
    (0 until NearClusters).foreach { c =>
      val base = text(50 + r.nextInt(30))
      texts += ((s"near$c", base))
      (0 until 1 + c % 2).foreach(_ => texts += ((s"near$c", substitute(base))))
    }
    val template = text(60)
    (0 until BoilerplateDocs).foreach(_ => texts += (("boilerplate", substitute(template))))
    val ids = shuffle(texts.indices.map(_.toLong), r)
    val docs = texts.indices.map(i => Doc(ids(i), texts(i)._2))
    val byTag = texts.indices.groupBy(i => texts(i)._1).map { case (t, is) => t -> is.map(ids(_)).sorted }
    val nearClusters = byTag.collect { case (t, is) if t.startsWith("near") => is }.toSeq
    val textOf = docs.map(d => d.id -> d.text).toMap
    val planted = nearClusters.flatMap { is =>
      for (a <- is; b <- is if a < b) yield (a, b, jaccard(textOf(a), textOf(b)))
    }

    val centers = IndexedSeq.fill(Blobs)(gaussian(r, Dim, 1.0))
    def blobVector(b: Int) = normalize(centers(b).zip(gaussian(r, Dim, 0.2)).map { case (c, n) => c + n })
    val vecs = mutable.ArrayBuffer.empty[(String, Array[Float])]
    (0 until Vectors).foreach(_ => vecs += (("random", blobVector(r.nextInt(Blobs)))))
    (0 until NearVectorClusters).foreach { c =>
      val base = blobVector(r.nextInt(Blobs))
      vecs += ((s"near$c", base))
      (0 until 1 + c % 2).foreach(_ =>
        vecs += ((s"near$c", normalize(base.zip(gaussian(r, Dim, 0.015)).map { case (x, n) => x + n }))))
    }
    val vids = shuffle(vecs.indices.map(_.toLong), r)
    val vectors = vecs.indices.map(i => (vids(i), vecs(i)._2))
    val nearVectors = vecs.indices.groupBy(i => vecs(i)._1).collect {
      case (t, is) if t.startsWith("near") => is.map(vids(_)).sorted
    }.toSeq
    val queries = (0 until Queries).map(i => (1000000L + i, blobVector(r.nextInt(Blobs))))
    Corpus(docs, byTag.collect { case (t, is) if t.startsWith("exact") => is }.toSeq,
      nearClusters, byTag("boilerplate").toSet, planted, vectors, nearVectors, queries)
  }

  private def gaussian(r: SplittableRandom, n: Int, sd: Double): Array[Float] =
    Array.fill(n) {
      // Box-Muller; SplittableRandom has no nextGaussian on every JDK.
      val u = 1.0 - r.nextDouble(); val v = r.nextDouble()
      (math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * v) * sd).toFloat
    }

  private def normalize(v: Array[Float]): Array[Float] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum)
    v.map(x => (x / n).toFloat)
  }

  private def shuffle[T](xs: IndexedSeq[T], r: SplittableRandom): IndexedSeq[T] = {
    val a = xs.toBuffer
    for (i <- a.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq
  }

  /** Exact cosine top-k of every query, computed here as the reference. */
  def exactTopK(c: Corpus): Map[Long, Set[Long]] =
    c.queries.map { case (q, qv) =>
      q -> c.vectors.map { case (id, v) => (id, math.rint(cosine(qv, v) * 1e6) / 1e6) }
        .sortBy { case (id, s) => (-s, id) }.take(K).map(_._1).toSet
    }.toMap

  /** Outputs of one curation pass. */
  final case class Outputs(
      survivors: Set[Long],
      semantic: Seq[(Long, Long, Boolean)], // (id, cluster, keep)
      ann: Seq[(Long, Long, Double)]) // (q_id, vec_id, sim)

  /** Every way a pass's outputs can disagree with the planted truth. */
  def check(c: Corpus, exact: Map[Long, Set[Long]], o: Outputs): Seq[String] = {
    val problems = mutable.ArrayBuffer.empty[String]
    // Exact and near-duplicate dedup: one survivor per duplicate set, the
    // least id; boilerplate is capped out of LSH, so only "at least one".
    val mustJoin = c.plantedPairs.filter(_._3 >= MustFindJaccard)
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { var y = x; while (parent.getOrElse(y, y) != y) y = parent(y); y }
    def union(a: Long, b: Long): Unit = { val (x, y) = (find(a), find(b)); if (x != y) parent(math.max(x, y)) = math.min(x, y) }
    c.exactGroups.foreach(g => g.tail.foreach(union(g.head, _)))
    mustJoin.foreach { case (a, b, _) => union(a, b) }
    val uncertain = c.boilerplate ++ c.plantedPairs.filter(p => p._3 >= Cfg.jaccardThreshold && p._3 < MustFindJaccard)
      .flatMap(p => Seq(p._1, p._2))
    val expected = c.docs.map(_.id).filter(id => find(id) == id).toSet -- uncertain
    val missing = expected -- o.survivors
    val extra = (o.survivors -- uncertain) -- expected
    if (missing.nonEmpty) problems += s"dedup dropped ${missing.size} docs it should keep (e.g. ${missing.take(3).mkString(",")})"
    if (extra.nonEmpty) problems += s"dedup kept ${extra.size} duplicate docs (e.g. ${extra.take(3).mkString(",")})"
    if ((o.survivors intersect c.boilerplate).isEmpty) problems += "dedup dropped the whole boilerplate cluster"

    // Semantic dedup: within each returned cluster, a row is dropped iff a
    // smaller id is at least tau similar (a 1e-5 band is left undecided).
    val vec = c.vectors.toMap
    if (o.semantic.map(_._1).toSet != vec.keySet) problems += "semantic dedup lost or invented rows"
    else {
      var wrong = 0
      o.semantic.groupBy(_._2).values.foreach { rows =>
        val ids = rows.map(_._1).sorted
        rows.foreach { case (id, _, keep) =>
          val best = ids.takeWhile(_ < id).map(o2 => cosine(vec(id), vec(o2))).maxOption.getOrElse(-1.0)
          if (math.abs(best - Tau) > 1e-5 && keep != (best < Tau)) wrong += 1
        }
      }
      if (wrong > 0) problems += s"semantic dedup decided $wrong rows wrongly"
      val plantedDups = c.nearVectors.flatMap(_.tail).toSet
      val dropped = o.semantic.filter(!_._3).map(_._1).toSet
      val caught = (plantedDups intersect dropped).size.toDouble / plantedDups.size
      if (caught < 0.9) problems += f"semantic dedup caught only $caught%.2f of planted near-duplicate vectors"
    }

    // ANN: every similarity is the true cosine, k per query, recall floor.
    val qv = c.queries.toMap
    val badSim = o.ann.count { case (q, id, s) => math.abs(s - cosine(qv(q), vec(id))) > 1e-5 }
    if (badSim > 0) problems += s"ANN returned $badSim wrong similarities"
    val got = o.ann.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    if (got.keySet != qv.keySet || got.values.exists(_.size != K)) problems += "ANN did not return k rows per query"
    val recall = recallAtK(exact, got)
    if (recall < 0.5) problems += f"ANN recall@$K $recall%.2f is below 0.5"
    problems.toSeq
  }

  def recallAtK(exact: Map[Long, Set[Long]], got: Map[Long, Set[Long]]): Double =
    exact.map { case (q, want) => (want intersect got.getOrElse(q, Set.empty)).size }.sum.toDouble /
      exact.values.map(_.size).sum
}

/** The curation operations over one generated corpus, as the workload
  * calls them: exact plus near-duplicate dedup, semantic dedup, and a
  * batch of IVF top-k queries against centroids trained once in set-up.
  */
final class Curation(ctx: Ctx, val corpus: CurationGen.Corpus) {
  import CurationGen._
  private val spark = ctx.spark
  private val spans = ctx.spans

  val (docs, vecs, queries): (DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    val dir = ctx.dir("curation")
    def save(df: DataFrame, name: String) = {
      df.write.mode("overwrite").parquet(dir.resolve(name).toString)
      spark.read.parquet(dir.resolve(name).toString)
    }
    (save(corpus.docs.map(d => (d.id, d.text)).toDF("doc_id", "text"), "docs"),
      save(corpus.vectors.map { case (i, v) => (i, v) }.toDF("vec_id", "embedding"), "vectors"),
      save(corpus.queries.map { case (i, v) => (i, v) }.toDF("q_id", "q_vec"), "queries"))
  }
  val exact: Map[Long, Set[Long]] = exactTopK(corpus)
  val centroids: Array[Array[Float]] = Similarity.trainCentroids(vecs, "vec_id", "embedding", Blobs, Dim)

  /** Per-layer values noted by traced calls, averaged when reported. */
  val noted = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private def note(k: String, v: Double) = noted.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v

  /** Exact then near-duplicate dedup; returns the surviving ids. */
  def dedup(docs: DataFrame = docs): Set[Long] = {
    val exactDeduped = spans.span("Dedup.byContent") { ctx.boundary(Dedup.byContent(docs, "text", "doc_id")) }
    spans.span("MinHashDedup.dedup") {
      MinHashDedup.dedup(exactDeduped, "doc_id", "text", Cfg).select("doc_id").collect().map(_.getLong(0)).toSet
    }
  }

  /** Semantic dedup; returns (id, cluster, keep). Traced runs train the
    * centroids in their own span and pass them in; untraced runs let
    * semanticDedup train them inline (same seed, same centroids).
    */
  def semantic(vecs: DataFrame = vecs): Seq[(Long, Long, Boolean)] = {
    val cents = if (spans.enabled) spans.span("Similarity.trainCentroids") {
      Similarity.trainCentroids(vecs, "vec_id", "embedding", Blobs, Dim)
    } else null
    spans.span("Similarity.semanticDedup") {
      Similarity.semanticDedup(vecs, "vec_id", "embedding", Tau, nClusters = Blobs, dim = Dim, centroids = cents)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    }
  }

  private def ivf(queries: DataFrame, vecs: DataFrame, k: Int): DataFrame =
    Similarity.ivfTopKJoin(queries, "q_id", "q_vec", vecs, "vec_id", "embedding", k,
      nLists = Blobs, nProbe = NProbe, dim = Dim, centroids = centroids)

  /** IVF top-k for every query; returns (q_id, vec_id, sim). */
  def ann(queries: DataFrame = queries, vecs: DataFrame = vecs): Seq[(Long, Long, Double)] =
    spans.span("Similarity.ivfTopKJoin") {
      ivf(queries, vecs, K).collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    }

  /** Traced runs only, after the timed window: the counts and quality
    * figures the timed calls do not expose. `verifiedPairs` and
    * `duplicateGroups` are the two stages `MinHashDedup.dedup` runs, called
    * here on the same input; the candidate count comes from the public
    * `candidatePairs` over the same signatures. `annOut` is the last
    * timed `ann` output.
    */
  def diagnose(annOut: Seq[(Long, Long, Double)]): Unit = {
    val exactDeduped = Dedup.byContent(docs, "text", "doc_id")
    val cands = MinHashDedup.candidatePairs(MinHashDedup.signatures(exactDeduped, "doc_id", "text", Cfg), Cfg).count()
    val pairs = spans.span("MinHashDedup.verifiedPairs") {
      MinHashDedup.verifiedPairs(exactDeduped, "doc_id", "text", Cfg)
    }
    val found = pairs.select("idA", "idB").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val groupSpan = spans.span("MinHashDedup.duplicateGroups") {
      ctx.boundary(MinHashDedup.duplicateGroups(pairs))
      spans.currentSpan
    }
    pairs.unpersist()
    ctx.releaseBoundaries()
    val must = corpus.plantedPairs.filter(_._3 >= MustFindJaccard)
    note("MinHashDedup.candidate_pairs", cands.toDouble)
    note("MinHashDedup.verify_yield", if (cands == 0) 0.0 else found.size.toDouble / cands)
    note("MinHashDedup.recall", must.count(p => found((p._1, p._2))).toDouble / must.size)
    ctx.tracer.foreach { t => t.settle(); note("MinHashDedup.duplicateGroups_jobs", t.group(groupSpan).jobs.toDouble) }
    note("Similarity.pairs_scored_per_query", ivf(queries, vecs, Int.MaxValue).count().toDouble / queries.count())
    note("Similarity.recall_at_k", recallAtK(exact, annOut.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }))
  }

  /** Per-layer metrics of the curation layers. */
  def layers: Map[String, Double] =
    noted.map { case (k, v) => k -> v.sum / v.size }.toMap ++ Seq(
      "Dedup.byContent_s", "MinHashDedup.dedup_s", "MinHashDedup.verifiedPairs_s",
      "MinHashDedup.duplicateGroups_s", "Similarity.trainCentroids_s", "Similarity.semanticDedup_s",
      "Similarity.ivfTopKJoin_s").map { n =>
      n -> ctx.tracer.map(_.meanSelf(n.stripSuffix("_s"))).getOrElse(0.0)
    }
}
