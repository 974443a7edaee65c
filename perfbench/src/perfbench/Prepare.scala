package perfbench

import java.nio.file.{Files, Paths}

/** The build's last step: write the fixed `query_mix` tables.
  *
  * {{{
  * java ... perfbench.Prepare <work dir> <tables dir>
  * }}}
  *
  * `perfbench/build.py` runs this once per build, in a JVM that also
  * writes the class-data sharing archive the runs map at start-up. Both
  * are fixed for a build, so no run pays for them in its set-up time.
  */
object Prepare {
  def main(args: Array[String]): Unit = {
    val Array(work, tables) = args
    val spark = Main.session(Paths.get(work))
    try {
      MixTables.write(spark, tables)
      Files.createFile(Paths.get(tables).resolve("_READY"))
    } finally spark.stop()
  }
}
