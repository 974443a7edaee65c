package graft.tools

import graft.{Queries, Sessions, SparkEntry}

/** Dev harness: print the formatted final physical plan and timed
  * noop-write for the named queries. The query runs once first, its rows
  * dropped on the executors, so the print is adaptive execution's final
  * plan (reused exchanges, chosen joins).
  * Usage: runMain graft.tools.Explain <sfDir> <q1> [q2...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = args.tail
    val spark = Sessions.local(Sessions.envCpus, "graft-explain")
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      println(s"===== $name =====")
      df.queryExecution.toRdd.foreach(_ => ())
      df.explain("formatted")
      (1 to 2).foreach { i =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        println(f"$name run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    spark.stop()
  }
}
