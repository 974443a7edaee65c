package perfbench

import java.nio.file.Paths

import org.apache.spark.sql.functions._

/** The benchmark's own tests: generators are deterministic per seed, and
  * every correctness check fails on a corrupted result.
  *
  * {{{
  * java ... perfbench.SelfTest <work dir>
  * }}}
  * Prints one `ok`/`FAIL` line per test and exits non-zero on a failure.
  * `perfbench/test_perfbench.py` runs it.
  */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }

  private def expect(cond: Boolean, what: => String): Unit =
    if (!cond) throw new AssertionError(what)

  def main(args: Array[String]): Unit = {
    test("etl generator: same seed, same pages; other seed, other pages") {
      def pages(seed: Long) = {
        val g = new EtlGen(seed)
        (1 to 3).flatMap(d => EtlGen.Endpoints.map(ep => g.day(ep, d).pages.toSeq))
      }
      expect(pages(1) == pages(1), "seed 1 twice differs")
      expect(pages(1) != pages(2), "seeds 1 and 2 agree")
    }
    test("etl generator: drift days carry their schema change") {
      val g = new EtlGen(1)
      g.day("popular", 1)
      expect(g.day("popular", EtlGen.AddColumnDay).pages.head.contains("\"revenue\""), "no revenue column")
      expect(g.tables("popular").cols.exists(_.name == "vote_count_double") == false, "sidecar too early")
      g.day("popular", EtlGen.TypeChangeDay)
      expect(g.tables("popular").cols.exists(_.name == "vote_count_double"), "no type-change sidecar")
    }
    test("curation generator: same seed, same corpus; other seed, other corpus") {
      def key(seed: Long) = {
        val c = CurationGen.generate(seed)
        (c.docs, c.plantedPairs, c.vectors.map { case (i, v) => (i, v.toSeq) }, c.queries.map(_._2.toSeq))
      }
      expect(key(1) == key(1), "seed 1 twice differs")
      expect(key(1) != key(2), "seeds 1 and 2 agree")
    }
    test("query mix: order depends on the seed only") {
      expect(QueryMix.order(1, 0) == QueryMix.order(1, 0), "seed 1 twice differs")
      expect((2 to 6).exists(s => QueryMix.order(s, 0) != QueryMix.order(1, 0)), "order ignores the seed")
      expect(QueryMix.order(1, 0).sorted == (QueryMix.Queries ++ QueryMix.CurationOps).sorted, "order drops ops")
    }

    val c = CurationGen.generate(3)
    val exact = CurationGen.exactTopK(c)
    val perfect = perfectOutputs(c, exact)
    test("curation check: passes the planted truth") {
      val p = CurationGen.check(c, exact, perfect)
      expect(p.isEmpty, p.mkString("; "))
    }
    test("curation check: fails when a planted pair is not deduplicated") {
      val (a, b, _) = c.plantedPairs.filter(_._3 >= CurationGen.MustFindJaccard)
        .find(p => c.nearClusters.exists(cl => cl.size == 2 && cl.contains(p._1))).get
      expect(CurationGen.check(c, exact, perfect.copy(survivors = perfect.survivors + b)).nonEmpty,
        s"pair ($a, $b) kept both and passed")
    }
    test("curation check: fails on a wrong semantic decision and on a wrong ANN row") {
      val flipped = perfect.semantic.map { case (i, cl, k) => if (i == perfect.semantic.head._1) (i, cl, !k) else (i, cl, k) }
      expect(CurationGen.check(c, exact, perfect.copy(semantic = flipped)).nonEmpty, "flipped keep passed")
      val (q, id, s) = perfect.ann.head
      expect(CurationGen.check(c, exact, perfect.copy(ann = (q, id, s + 0.01) +: perfect.ann.tail)).nonEmpty,
        "changed similarity passed")
    }

    val work = Paths.get(args(0))
    val spark = Main.session(work)
    try {
      test("query check: fails when one result row changes") {
        val df = spark.range(100).select(col("id"), (col("id") * 0.5).as("x"), concat(lit("r"), col("id")).as("s"))
        val good = Checks.fingerprint(df)
        expect(good == Checks.fingerprint(df.repartition(3)), "fingerprint depends on row order")
        val changed = df.withColumn("x", when(col("id") === 42, lit(0.25)).otherwise(col("x")))
        expect(Checks.fingerprint(changed) != good, "changed row, same fingerprint")
        val recorded = QueryMix.Expected.head
        expect(QueryMix.checkOne(recorded._1, recorded._2).isEmpty, "recorded value rejected")
        expect(QueryMix.checkOne(recorded._1, (recorded._2._1, recorded._2._2 + 1)).nonEmpty, "changed hash passed")
      }
      test("etl check: passes a real day and fails a skipped merge day") {
        val ctx = new Ctx(spark, 5, 1, NoTrace, work, System.nanoTime())
        val etl = new EtlUpsert(ctx)
        val gen = new EtlGen(5)
        etl.writeInitialTables(gen)
        val ep = EtlGen.Endpoints.head
        expect(etl.runDay(gen, 1, timed = false, endpoints = Seq(ep)), "day 1 failed")
        expect(etl.check(gen, 1).isEmpty, etl.check(gen, 1).mkString("; "))
        // Day 2 is generated, so the model expects it, but never merged.
        etl.expected((ep, 2)) = gen.day(ep, 2).expect
        etl.observed((ep, 2)) = etl.report(ep, 2)
        expect(etl.check(gen, 2).exists(_.startsWith(s"$ep day 2")), "skipped day passed")
      }
    } finally spark.stop()
    println(if (failures == 0) "all self-tests passed" else s"$failures self-test(s) failed")
    sys.exit(if (failures == 0) 0 else 1)
  }

  /** Outputs that match the planted truth exactly, built without Spark. */
  private def perfectOutputs(c: CurationGen.Corpus, exact: Map[Long, Set[Long]]): CurationGen.Outputs = {
    val losers = (c.exactGroups ++ c.nearClusters).flatMap(_.tail).toSet
    val vec = c.vectors.toMap
    val ids = vec.keys.toSeq.sorted
    val semantic = ids.map { id =>
      val dup = ids.takeWhile(_ < id).exists(o => CurationGen.cosine(vec(id), vec(o)) >= CurationGen.Tau)
      (id, 0L, !dup)
    }
    val qv = c.queries.toMap
    val ann = exact.toSeq.flatMap { case (q, hits) => hits.toSeq.map(h => (q, h, CurationGen.cosine(qv(q), vec(h)))) }
    CurationGen.Outputs(c.docs.map(_.id).toSet -- losers, semantic, ann)
  }
}
