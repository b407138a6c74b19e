package graft.plans

import java.nio.file.{Files, Paths}

/**
 * Per-query plan snapshots for before/after audits (`tools/plandiff.py`):
 * the same audit section as [[Explain]] — final plan and executed plans,
 * per regime — for a named subset of queries, one file per query.
 *
 * Usage:
 *   sbt "runMain graft.plans.ExplainSome <suffix> <outDir> <key> [key ...]"
 * writes `<outDir>/<key>_<suffix>.txt` for each requested key.
 */
object ExplainSome {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ExplainSome <suffix> <outDir> <key>...")
    val suffix = args(0)
    val outDir = Paths.get(args(1))
    val keys = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    Files.createDirectories(outDir)
    val spark = Explain.session(sfDir)
    keys.foreach { k =>
      graft.SparkEntry.queries.get(k) match {
        case None => println(s"[explain-some] UNKNOWN key: $k")
        case Some(q) =>
          Files.writeString(outDir.resolve(s"${k}_$suffix.txt"),
            s"# $k — explain(formatted) @ $sfDir\n${Explain.audit(spark, sfDir, q)}")
          println(s"[explain-some] wrote ${k}_$suffix.txt")
      }
    }
    spark.stop()
  }
}
