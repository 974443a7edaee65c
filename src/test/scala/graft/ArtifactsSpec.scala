package graft

import java.util.concurrent.atomic.AtomicInteger

class ArtifactsSpec extends SparkSuite {

  // the memo is process-wide: every test keys its own dir
  private def dir(name: String) = s"/artifacts-spec/$name"

  test("a value builds once per (dir, name)") {
    val builds = new AtomicInteger()
    def get(d: String, name: String) =
      Artifacts.value(d, name) { builds.incrementAndGet(); s"$d|$name" }
    assert(get(dir("once"), "a") == s"${dir("once")}|a")
    assert(get(dir("once"), "a") == s"${dir("once")}|a")
    assert(builds.get == 1)
    get(dir("once"), "b")
    get(dir("once2"), "a")
    assert(builds.get == 3)
  }

  test("a build may request other artifacts, and replace one, inside itself") {
    val d = dir("nested")
    val outer = Artifacts.value(d, "outer") {
      val inner = Artifacts.value(d, "inner")(21)
      Artifacts.put(d, "sibling", inner)
      inner * 2
    }
    assert(outer == 42)
    assert(Artifacts.value(d, "sibling")(0) == 21)
  }

  test("put replaces a memoized value") {
    val d = dir("put")
    assert(Artifacts.value(d, "v")(1) == 1)
    Artifacts.put(d, "v", 2)
    assert(Artifacts.value(d, "v")(3) == 2)
  }

  test("a pin is reused within a session and rebuilt for another one") {
    val d = dir("pin")
    val builds = new AtomicInteger()
    def get(s: org.apache.spark.sql.SparkSession) =
      Artifacts.pinned(s, d, "t") { builds.incrementAndGet(); s.range(5).toDF("id") }
    val first = get(spark)
    assert(get(spark) eq first)
    assert(builds.get == 1)
    assert(first.count() == 5)
    val other = spark.newSession()
    val second = get(other)
    assert(!(second eq first))
    assert(builds.get == 2)
    assert(second.count() == 5)
  }

  test("latest is empty until the requested dir's build has finished") {
    val name = "latest-spec"
    val (a, b) = (dir("latestA"), dir("latestB"))
    assert(Artifacts.latest[String](name).isEmpty)
    Artifacts.value(a, name) {
      // requested but not yet built: the splice gate stays shut
      assert(Artifacts.latest[String](name).isEmpty)
      "A"
    }
    assert(Artifacts.latest[String](name).contains("A"))
    Artifacts.value(b, name)("B")
    assert(Artifacts.latest[String](name).contains("B"))
    Artifacts.value(a, name)("unused")
    assert(Artifacts.latest[String](name).contains("A"))
    // a value read through another name's most recent dir
    Artifacts.value(b, "latest-spec-anchor")("anchor")
    assert(Artifacts.latest[String](name, anchor = "latest-spec-anchor").contains("B"))
  }
}
