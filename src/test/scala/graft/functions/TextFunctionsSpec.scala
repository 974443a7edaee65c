package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSuite

class TextFunctionsSpec extends SparkSuite {
  import spark.implicits._

  private def one[T](c: org.apache.spark.sql.Column, text: String): T =
    Seq(text).toDF("text").select(c.as("v")).collect().head.getAs[T]("v")

  private def oneArr(c: org.apache.spark.sql.Column, text: String): Seq[String] =
    Seq(text).toDF("text").select(c.as("v")).collect().head
      .getAs[scala.collection.Seq[String]]("v").toSeq

  test("tokenCount and subwordCount") {
    assert(one[Int](TextFunctions.tokenCount($"text"), "a b c") == 3)
    assert(one[Int](TextFunctions.subwordCount($"text"), "ab 12 c!d") == 5)
  }

  test("wordNGrams: ordered overlapping; short docs -> empty") {
    assert(oneArr(TextFunctions.wordNGrams($"text", 2), "a b c") == Seq("a b", "b c"))
    assert(oneArr(TextFunctions.wordNGrams($"text", 3), "a b") == Seq.empty)
  }

  test("shingles are distinct") {
    assert(oneArr(TextFunctions.shingles($"text", 2), "a b a b a") == Seq("a b", "b a"))
  }

  test("punctRatio and stopwordRatio") {
    assert(math.abs(one[Double](TextFunctions.punctRatio($"text"), "ab!!") - 0.5) < 1e-9)
    assert(math.abs(one[Double](TextFunctions.stopwordRatio($"text"), "the cat the dog") - 0.5) < 1e-9)
  }

  test("langId picks the dominant lexicon, und when nothing hits") {
    assert(one[String](TextFunctions.langId($"text"), "the cat is in the house and it is warm") == "en")
    assert(one[String](TextFunctions.langId($"text"), "das ist nicht ein problem und die katze") == "de")
    assert(one[String](TextFunctions.langId($"text"), "xyzzy plugh qwerty") == "und")
  }

  test("qualityScore stays in [0,1]") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val bad = docs.select(TextFunctions.qualityScore(col("text")).as("q"))
      .where(col("q") < 0 || col("q") > 1)
    assert(bad.count() == 0)
  }

  test("native poly_token_hashes equals the HOF executable spec") {
    // edge shapes the single-pass loop must reproduce exactly: empty
    // string, leading/trailing/double spaces (empty tokens hash to 0),
    // non-ASCII code points
    val edge = Seq("", " ", "a", "a b", " a", "a ", "a  b", "héllo wörld 你好")
      .toDF("text")
    val docs = spark.read.parquet(s"$sf/documents.parquet").select($"text")
    for (df <- Seq(edge, docs)) {
      val mismatch = df.select(
          TextFunctions.portableTokenHashes($"text").as("native"),
          TextFunctions.portableTokenHashesHof($"text").as("hof"))
        .where(not($"native" <=> $"hof"))
      assert(mismatch.count() == 0, "native expression diverged from HOF spec")
    }
    // fingerprint path (outer fold over the native array) stays in range
    val fp = one[Long](TextFunctions.portableFingerprint($"text"), "a b c")
    assert(fp >= 0 && fp < (1L << 48))
  }

  test("native poly_string_hash equals the HOF executable spec; SQL-registered") {
    // whole-string fold INCLUDING spaces (the uniform's key strings are
    // 'salt|...|id' composites), empty string -> 0, non-ASCII code points
    val edge = Seq("", " ", "bs1|0|42", "a b  c", "héllo|你好", "x" * 200)
      .toDF("text")
    val docs = spark.read.parquet(s"$sf/documents.parquet").select($"text")
    for (df <- Seq(edge, docs)) {
      val mismatch = df.select(
          graft.plans.PolyHashExpressions.polyStringHash($"text").as("native"),
          TextFunctions.portableStringHashHof($"text").as("hof"))
        .where(not($"native" <=> $"hof"))
      assert(mismatch.count() == 0, "native string hash diverged from HOF spec")
    }
    edge.createOrReplaceTempView("tf_keys")
    val viaSql = spark.sql("SELECT poly_string_hash(text) AS h FROM tf_keys")
      .as[Long].collect().toSeq
    val viaApi = edge.select(
        graft.plans.PolyHashExpressions.polyStringHash($"text"))
      .as[Long].collect().toSeq
    assert(viaSql == viaApi, "SQL registration must match the Column API")
  }

  test("SQL surface: hashed_shingles and poly_token_hashes registered") {
    spark.read.parquet(s"$sf/documents.parquet").limit(20)
      .createOrReplaceTempView("tf_docs")
    val viaSql = spark.sql(
      """SELECT doc_id, hashed_shingles(text, 3) AS hs, poly_token_hashes(text) AS th
        |FROM tf_docs""".stripMargin)
      .as[(Long, Seq[Long], Seq[Long])].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val viaApi = spark.table("tf_docs").select($"doc_id",
        TextFunctions.hashedShingles($"text", 3), TextFunctions.portableTokenHashes($"text"))
      .as[(Long, Seq[Long], Seq[Long])].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(viaSql == viaApi, "SQL registration must match the Column API")
  }

  test("native hashed_shingles equals the HOF executable spec") {
    // edges: short doc (< n tokens), repeated shingles (distinct +
    // first-occurrence order), empty tokens from double spaces
    val edge = Seq("", "a b", "a b c", "a b c a b c a b c", "a  b c d", "x " * 50)
      .toDF("text")
    val docs = spark.read.parquet(s"$sf/documents.parquet").select($"text")
    for (df <- Seq(edge, docs)) {
      val mismatch = df.select(
          TextFunctions.hashedShingles($"text", 3).as("native"),
          TextFunctions.hashedShinglesHof($"text", 3).as("hof"))
        .where(not($"native" <=> $"hof"))
      assert(mismatch.count() == 0, "native shingles diverged from HOF spec")
    }
  }

  test("canonicalizeUrl: case, default ports, fragments, tracking params, param order") {
    val cases = Seq(
      // equivalent fetches of one page -> one canonical form
      ("HTTPS://Host1.Example.COM:443/p/5?b=2&utm_source=x&a=1#top",
        "https://host1.example.com/p/5?a=1&b=2"),
      ("https://host1.example.com/p/5?a=1&gclid=zzz&b=2",
        "https://host1.example.com/p/5?a=1&b=2"),
      // http default port; ref tracking param; fragment only
      ("HTTP://h.io:80/x?ref=feed#frag", "http://h.io/x"),
      // NON-default port survives; params all tracked -> no query
      ("https://h.io:8443/x?utm_campaign=a&fbclid=b", "https://h.io:8443/x"),
      // no query, no fragment: untouched apart from case
      ("https://H.IO/plain", "https://h.io/plain")
    ).toDF("raw", "expected")
    val bad = cases
      .withColumn("got", TextFunctions.canonicalizeUrl($"raw"))
      .where($"got" =!= $"expected")
      .select("raw", "got", "expected").collect()
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("portableUniform: short consecutive keys equidistribute, stay in (0,1)") {
    // the failure mode the affine finalizer exists for: raw char folds
    // of "0".."999" all sit near 0 against the modulus; the scrambled
    // uniform must fill every decile instead
    val keys = (0 until 1000).map(_.toString).toDF("k")
    val us = keys.select(TextFunctions.portableUniform($"k").as("u"))
      .as[Double].collect()
    assert(us.forall(u => u > 0.0 && u < 1.0), "u must stay inside (0,1)")
    assert(us.distinct.length == 1000, "distinct keys must not collide here")
    val deciles = us.groupBy(u => (u * 10).toInt).view.mapValues(_.length)
    assert(deciles.size == 10, s"empty deciles: $deciles")
    assert(deciles.values.forall(n => n > 50 && n < 200),
      s"decile skew: ${deciles.toMap}")
  }

  test("clippedOverlap: clipping stops repeated-ngram credit farming") {
    def overlap(cand: String, ref: String, n: Int = 2): Long =
      Seq((cand, ref)).toDF("c", "r")
        .select(TextFunctions.wordNGrams($"c", n).as("cg"),
          TextFunctions.wordNGrams($"r", n).as("rg"))
        .select(TextFunctions.clippedOverlap($"cg", $"rg").as("o"))
        .as[Long].head()
    // identical text: overlap == all bigrams
    assert(overlap("a b c d", "a b c d") == 3L)
    // candidate repeats the one matching bigram 3x; ref has it once ->
    // clipped to 1, not 3
    assert(overlap("x y x y x y", "x y z w", 2) == 1L)
    // per-ngram clipping: "x y" -> min(3,2)=2, "y x" -> min(2,1)=1, "z x" -> 0
    assert(overlap("x y x y x y", "z x y x y", 2) == 3L)
    // disjoint texts and too-short texts -> 0
    assert(overlap("a b c", "d e f") == 0L)
    assert(overlap("single", "single word here") == 0L)
  }

  test("registrableDomain: eTLD+1 under one- and two-level suffixes") {
    def dom(url: String): String =
      one[String](TextFunctions.registrableDomain($"text"), url)
    assert(dom("https://www.example.co.uk/p?x=1") == "example.co.uk")
    assert(dom("https://a.b.example.com/deep/path") == "example.com")
    assert(dom("http://example.com") == "example.com")
    assert(dom("https://deep.sub.project.github.io/page") == "project.github.io")
    assert(dom("https://Example.COM:8080/x") == "example.com", "port + case folded")
    assert(dom("http://localhost/health") == "localhost", "bare host passes through")
    assert(dom("https://co.uk/") == "co.uk", "a bare suffix has no +1 label")
  }
}
