package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.core.{Sessions, Tables}
import graft.operators.QualityClassifier

/** Dev tool: retrain the t25 quality classifier on EVERY given
  * scale-factor dir and freeze the quantized nano-weights into
  * `graft/operators/QualityWeights.scala`, keyed by the corpus's total
  * text byte length (sum octet_length ≡ DuckDB sum strlen — the
  * engine-portable fingerprint that discriminates the fixture SFs).
  * The t25 DuckDB oracle CASEs over these keys, so ONE static oracle
  * string is exact at every fixture SF and the cross-SF sweep carries
  * no t25 exception; the gate fails loudly if training ever drifts
  * from a snapshot.
  *
  * This tool and Verify both build their session through
  * [[graft.core.Sessions]], so run both with the same core count:
  * L-BFGS's treeAggregate sums partition partials in partition order,
  * so a different partitioning could change coefficients in the last
  * ulps — and the frozen snapshots must match what Verify retrains.
  *
  * Usage: sbt "runMain graft.tools.FreezeQualityWeights
  *   /root/testdata/sf0.001 /root/testdata/sf0.01 /root/testdata/sf0.1
  *   src/main/scala/graft/operators/QualityWeights.scala"
  */
object FreezeQualityWeights {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: <sfDir>... <outFile>")
    val outFile = args.last
    val dirs = args.dropRight(1).toSeq
    val spark = Sessions.start()

    val snaps = dirs.map { sfDir =>
      val docs = Tables(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"))
      val key = docs.agg(
        sum(octet_length(col("text")).cast(LongType))).head.getLong(0)
      val model = QualityClassifier.train(
        docs.filter(col("doc_id") % 2 === 0), QualityClassifier.lengthLabel())
      val (wq, bq) = QualityClassifier.quantize(model)
      println(s"[freeze] $sfDir key=$key bq=$bq nonzero=${wq.count(_ != 0L)}")
      (sfDir, key, bq, wq)
    }
    require(snaps.map(_._2).distinct.size == snaps.size,
      "corpus byte-length keys must discriminate the given dirs")

    val snapSrc = snaps.map { case (sfDir, key, bq, wq) =>
      val body = wq.grouped(8).map(_.mkString(", ")).mkString(",\n      ")
      s"""    // $sfDir
         |    Snap(${key}L, ${bq}L, Array(
         |      $body))""".stripMargin
    }.mkString(",\n")
    val src =
      s"""package graft.operators
         |
         |/** FROZEN quantized weights for the t25 quality classifier —
         |  * GENERATED by graft.tools.FreezeQualityWeights from
         |  * deterministic L-BFGS fits on the even-doc_id half of each
         |  * fixture SF's documents table, keyed by the corpus's total
         |  * text byte length (sum octet_length ≡ DuckDB sum strlen).
         |  * The t25 oracle SQL CASEs over the keys so one static
         |  * oracle is exact at every fixture SF; QualityClassifierSpec
         |  * pins a fresh retrain against each snapshot, so any
         |  * training drift fails the suite before it can redden the
         |  * driver gate. Regenerate (after fixture or trainer changes):
         |  *   sbt "runMain graft.tools.FreezeQualityWeights
         |  *     ${dirs.mkString(" ")} src/main/scala/graft/operators/QualityWeights.scala"
         |  */
         |object QualityWeights {
         |  final case class Snap(key: Long, bq: Long, wq: Array[Long])
         |  val snapshots: Seq[Snap] = Seq(
         |$snapSrc)
         |}
         |""".stripMargin
    Files.writeString(Paths.get(outFile), src)
    println(s"[freeze] wrote ${snaps.size} snapshots to $outFile")
    spark.stop()
  }
}
