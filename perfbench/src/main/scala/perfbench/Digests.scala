package perfbench

import java.nio.file.{Files, Paths}

/** Records the expected digest of every benchmark query.
  *
  * Usage: perfbench.Digests <dataDir> <out.tsv> <cores> [verifyDir]
  *
  * Each query runs once live. With `verifyDir` (the output of
  * `graft.Verify <dataDir> <verifyDir>`, already checked against the
  * DuckDB oracle by scripts/oracle_check.py) each query's dump is
  * digested too, and a query whose two digests differ is not recorded.
  */
object Digests {
  val Header = "# query<TAB>rows:wrapping sum of 64-bit row hashes over the full sf0.1 result " +
    "(perfbench.Digest); written by perfbench.Digests, provenance in NOTES.md"

  def main(args: Array[String]): Unit = {
    val Array(data, out, cores) = args.take(3)
    val verifyDir = args.lift(3)
    val spark = graft.Sessions.builder(s"local[$cores]", cores.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    var bad = 0
    val lines = (Workloads.Ingest ++ Workloads.Iterative).flatMap { name =>
      val live = Digest.of(graft.SparkEntry.queries(name)(spark, data).collect())
      spark.catalog.clearCache()
      val dumped = verifyDir.map(v => Digest.of(spark.read.parquet(s"$v/$name").collect()))
      println(s"$name live=$live verify=${dumped.getOrElse("-")}")
      if (dumped.exists(_ != live)) { bad += 1; None } else Some(s"$name\t$live")
    }
    Files.writeString(Paths.get(out), (Header +: lines).mkString("", "\n", "\n"))
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
