package graftbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Output gate for one suite run's `unified` frame (verdicts + violations
  * with a `kind` column). The figures ride the timed action itself as an
  * Observation, so checking the output costs no extra Spark job:
  *  - per check: verdict rows, failing verdict rows, violation rows;
  *  - an order-free hash of the (check_id, partition, pass) verdict set.
  * A run passes when the planted-anomaly outcomes hold and its figures are
  * identical to the first passing run of the same seed — in this JVM, or in
  * an earlier run in this checkout when `refFile` names where that run's
  * figures were kept.
  */
final class Gate(checkIds: Seq[String], mustFail: Set[String], mustPass: Set[String],
    refFile: Option[java.nio.file.Path] = None) {
  require(mustFail.subsetOf(checkIds.toSet) && mustPass.subsetOf(checkIds.toSet))

  private def tag(kind: String, id: String) = s"${kind}__$id"

  private val exprs: Seq[Column] = {
    val isV = col("kind") === "verdict"
    val isX = col("kind") === "violation"
    def count(p: Column) = sum(when(p, 1L).otherwise(0L))
    checkIds.flatMap { id =>
      val mine = col("check_id") === id
      Seq(count(isV && mine).as(tag("verdicts", id)),
        count(isV && mine && !col("pass")).as(tag("failing", id)),
        count(isX && mine).as(tag("violations", id)))
    } :+ sum(when(isV, pmod(xxhash64(col("check_id"), col("partition"), col("pass")),
      lit(1000000007L))).otherwise(0L)).as("verdict_set_hash")
  }

  private var reference: Option[Map[String, Long]] =
    refFile.filter(java.nio.file.Files.exists(_)).map { p =>
      scala.io.Source.fromFile(p.toFile).getLines().map(_.split(" ")).collect {
        case Array(k, v) => k -> v.toLong
      }.toMap
    }

  /** `unified` with the gate's observation attached; materialize it once. */
  def observe(unified: DataFrame, obs: Observation): DataFrame =
    unified.observe(obs, exprs.head, exprs.tail: _*)

  /** Figures of a finished observation. */
  def figures(obs: Observation): Map[String, Long] =
    obs.get.map { case (k, v) => k -> Option(v).map(_.toString.toLong).getOrElse(0L) }

  /** Reasons the run fails the gate; empty when it passes. */
  def judge(f: Map[String, Long]): Seq[String] = {
    val planted =
      checkIds.filter(id => f(tag("verdicts", id)) == 0).map(id => s"$id emitted no verdict") ++
        mustFail.toSeq.sorted.filter(id => f(tag("failing", id)) == 0)
          .map(id => s"$id should fail (planted anomaly) but passed") ++
        mustPass.toSeq.sorted.filter(id => f(tag("failing", id)) > 0)
          .map(id => s"$id should pass but failed")
    if (planted.nonEmpty) planted
    else reference match {
      case None =>
        reference = Some(f)
        refFile.foreach { p =>
          java.nio.file.Files.createDirectories(p.getParent)
          java.nio.file.Files.write(p, f.toSeq.sorted.map { case (k, v) => s"$k $v" }
            .mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
        Nil
      case Some(ref) =>
        ref.keys.toSeq.sorted.filter(k => !f.get(k).contains(ref(k)))
          .map(k => s"$k = ${f.get(k).orNull} differs from ${ref(k)} in the first run of this seed" +
            refFile.filter(java.nio.file.Files.exists(_)).fold("")(p => s" (kept in $p)"))
    }
  }
}

object Gate {
  /** Planted-anomaly outcomes the flagship EngineSpec test asserts. */
  val FlagshipMustFail: Set[String] = Set("unique_url", "host_registered",
    "lang_consistency", "score_digits", "chars_regression", "near_dup_text")
  val FlagshipMustPass: Set[String] = Set("text_bytes", "score_stats")

  /** `scoreStatsPass`: whether the input's score column meets score_stats'
    * declared bounds, computed from the input itself. The generator's
    * host-3 snapping (floor + 0.5) turns a score of 100.00 into 100.5, so
    * on larger inputs score_stats rightly fails its max bound. */
  def forSuite(checkIds: Seq[String], scoreStatsPass: Boolean,
      refFile: Option[java.nio.file.Path] = None): Gate = {
    val ids = checkIds.toSet
    val (pass, fail) =
      if (scoreStatsPass) (FlagshipMustPass, FlagshipMustFail)
      else (FlagshipMustPass - "score_stats", FlagshipMustFail + "score_stats")
    new Gate(checkIds, fail.intersect(ids), pass.intersect(ids), refFile)
  }
}
