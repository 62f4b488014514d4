package graft.tools

import graft.core.Sessions
import graft.queries.Registry

/** Driver-phase breakdown of one registry query (guide §7.3): where
  * the PRE-EXECUTION driver time goes — DataFrame construction,
  * analysis, optimization, physical planning — vs the noop-sink
  * execution itself (which re-plans the write command and includes
  * codegen + jobs). Each phase is timed on a FRESH DataFrame per pass,
  * after a warm pass, so per-invocation costs (what the bench pays 5×)
  * are what is measured. Diagnostic only.
  *
  * Usage: sbt "runMain graft.tools.PhaseTrace <query> [passes]"
  */
object PhaseTrace {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val name = args.head
    val passes = if (args.length > 1) args(1).toInt else 3
    val spark = Sessions.start()

    def t[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }

    // warm: codegen cache, file-listing, fixtures
    Registry.queries(name)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()

    for (i <- 1 to passes) {
      val (df, tc) = t(Registry.queries(name)(spark, sfDir))
      val qe = df.queryExecution
      val (_, ta) = t(qe.analyzed)
      val (_, to) = t(qe.optimizedPlan)
      val (_, tp) = t(qe.executedPlan)
      val (_, tw) = t(df.write.format("noop").mode("overwrite").save())
      println(f"pass $i: construct=$tc%.3f analyze=$ta%.3f optimize=$to%.3f " +
        f"plan=$tp%.3f execute(noop,replanned)=$tw%.3f total=${tc + ta + to + tp + tw}%.3f")
    }
    spark.stop()
  }
}
