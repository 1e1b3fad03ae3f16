package graft


/** Optimization-round measurement tool: write the formatted physical
  * plan (`explain("formatted")`) of named declared queries to
  * `<outDir>/<query>.txt` — the committed before/after plan evidence
  * the optimization guide (§1/§7.2) asks for. Read-only with respect to
  * query semantics: plans come from the same declared-query registry
  * the bench and verify mains run.
  *
  * usage: PlanDump <sfDir> <outDir> <q1,q2,...>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, names) = args.take(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.split(",").foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/$n.txt"),
          plan.getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
        println(s"[plandump] $n ok")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $n failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
