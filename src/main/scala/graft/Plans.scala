package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Plan-dump main: writes `.explain("formatted")` for named SparkEntry
  * queries to files (optimization-round evidence; the driver never runs
  * this). Args: sfDir outDir suffix name [name...]. Each query's plan goes
  * to `<outDir>/<name>_<suffix>.txt`. Pass `ALL` as the single name to dump
  * every declared query.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val rest = args.drop(3).toSeq
    // r18 (ADVICE): ALL mixed with other names was silently treated as a
    // literal query name — reject the ambiguity instead.
    require(!rest.contains("ALL") || rest.size == 1,
      "ALL must be the only query name")
    val names =
      if (rest == Seq("ALL")) SparkEntry.queries.keys.toSeq.sorted
      else rest
    val spark = GraftSession.builder(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    var failures = 0
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(Paths.get(outDir, s"${n}_$suffix.txt"),
          plan.getBytes(StandardCharsets.UTF_8))
        println(s"PLANS $n ok ${plan.count(_ == '\n')} lines")
      } catch {
        case e: Throwable =>
          failures += 1
          println(s"PLANS $n FAIL ${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("").take(200))
      }
    }
    spark.stop()
    // r18 (ADVICE): a dump run where queries failed must not look
    // successful to a calling script.
    if (failures > 0) sys.exit(1)
  }
}
