package graft

import graft.core.{Materialize, Sessions}
import graft.queries.Registry

/** Plan inspector: prints the formatted physical plan of the named
  * queries (or the bench set) so scan pushdown, broadcast choices and
  * WholeStageCodegen spans can be audited per round. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Sessions.start("ERROR")
    val names = if (args.nonEmpty) args.toSeq else Registry.benchQueries.map(_.name)
    names.foreach { n =>
      println(s"\n=== $n ===")
      Materialize.statement(Registry.queries(n)(spark, sfDir).explain("formatted"))
    }
    spark.stop()
  }
}
