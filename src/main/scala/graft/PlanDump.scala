package graft

import java.nio.file.{Files, Paths}

/** Optimization-round evidence tool: dump `.explain("formatted")` for named
  * declared queries to `<outDir>/<name>_<suffix>.txt`.
  *
  * Usage: `sbt "runMain graft.PlanDump <sfDir> <outDir> <suffix> q_a q_b ..."`
  *
  * The query function is INVOKED to obtain its returned DataFrame, so
  * lifecycle queries (index build + probe) execute their build phase and the
  * dumped plan is the final returned stage — for queries whose result is a
  * driver-assembled local relation (probe collects + sanity rows) the
  * interesting kernel plans are dumped by the `@`-prefixed synthetic names
  * below instead:
  *   - `@assign`     — TrainingOps.assign over the sf embeddings
  *   - `@maxsim_probe` — MaxSimIndex.probe over a fresh build
  *   - `@bm25_score`  — TextIndex.score (probeTop shape) over a fresh build
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1); val suffix = args(2)
    val names = args.drop(3).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.build(cpus)
    Files.createDirectories(Paths.get(outDir))
    import org.apache.spark.sql.functions._
    names.foreach { n =>
      try {
        val df = n match {
          case "@assign" =>
            graft.functions.FloatDot.register(spark)
            val nz = graft.ops.TrainingOps.nzEmbeddings(spark, sfDir)
            val stride = graft.sources.AnnIndex.seedStride(nz.count())
            graft.ops.TrainingOps.assign(
              nz.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
                        col("nrm").as("n_nrm")),
              nz.where(pmod(col("vec_id"), lit(stride)) === 0)
                .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
                        col("nrm").as("c_nrm")))
          case "@maxsim_probe" =>
            val nz = graft.ops.TrainingOps.nzEmbeddings(spark, sfDir)
            val tokens = nz.where(col("vec_id") >= 20)
              .select(col("vec_id").as("n_id"), expr("vec_id div 10").as("d_id"),
                      col("embedding").as("n_emb"), col("nrm").as("n_nrm"))
            val idx = s"target/tmp/plandump_maxsim_$suffix"
            graft.sources.MaxSimIndex.build(spark, nz, tokens, idx)
            graft.sources.MaxSimIndex.probe(spark,
              nz.where(col("vec_id") < 20)
                .select(expr("vec_id div 10").as("q_id"), col("vec_id").as("qt"),
                        col("embedding").as("q_emb"), col("nrm").as("q_nrm")),
              idx)
          case "@bm25_score" =>
            val idx = s"target/tmp/plandump_bm25_$suffix"
            val ti = graft.sources.TextIndex
            ti.build(spark, Tables.documents(spark, sfDir)
              .select(col("doc_id"), col("text")), idx)
            ti.score(spark, idx, ti.terms(spark, idx)
              .where(length(col("t")) >= 4)
              .orderBy(col("df").desc, col("t")).limit(5))
          case q => SparkEntry.queries(q)(spark, sfDir)
        }
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(
          Paths.get(s"$outDir/${n.stripPrefix("@")}_$suffix.txt"), txt)
        println(s"[plandump] wrote ${n.stripPrefix("@")}_$suffix.txt")
      } catch { case e: Throwable =>
        println(s"[plandump] $n FAILED: ${e.getMessage}")
      }
    }
    graft.ops.LlmOps.release()
    spark.stop()
  }
}
