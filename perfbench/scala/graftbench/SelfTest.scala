package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tests of the harness's own correctness machinery (run by
  * perfbench/test_bench.py): the digest ignores row order and sees every
  * value, and a planted wrong result fails the checks.
  *
  * Usage: graftbench.SelfTest <dir with generated tables>
  */
object SelfTest {
  private var failures = 0
  private def expect(what: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok" else "FAIL"} $what")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]").appName("graftbench-selftest")
      .config("spark.sql.shuffle.partitions", 2L).config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    def digest(df: DataFrame) = Digest.read(Digest.frame(df), Nil, Nil)("all")

    val df = (1 to 1000).map(i => (i.toLong, s"k${i % 7}", i * 0.1,
      if (i % 5 == 0) None else Some(i), Seq(i * 0.5, i * 0.25), Map(s"m$i" -> i)))
      .toDF("id", "k", "x", "y", "arr", "map")
    val d = digest(df)
    expect("digest ignores row and partition order",
      digest(df.orderBy(desc("id")).repartition(7)) == d)
    expect("digest sees a dropped row", digest(df.filter(col("id") =!= 500)) != d)
    expect("digest sees a changed double",
      digest(df.withColumn("x", when(col("id") === 500, col("x") + 0.01).otherwise(col("x")))) != d)
    expect("digest sees a changed array element",
      digest(df.withColumn("arr", when(col("id") === 7, array(lit(1.0))).otherwise(col("arr")))) != d)
    expect("digest tells (null, 1) from (1, null)",
      digest(Seq[(Option[Long], Option[Long])]((None, Some(1L))).toDF("a", "b")) !=
        digest(Seq[(Option[Long], Option[Long])]((Some(1L), None)).toDF("a", "b")))

    // a planted wrong result: one replica value off after the snapshot wire
    val w = Workloads.cdcWorkload("cdc", spark, args(0))
    val got = w.ops.map { op =>
      val out = op.run()
      op.name -> Digest.read(Digest.frame(out.df, out.groups, out.flags),
        out.groups.map(_._1), out.flags.map(_._1))
    }.toMap
    val checkDir = java.nio.file.Files.createTempDirectory("graftbench-selftest").toString
    w.oracleLanes.foreach { case (lane, _) =>
      graft.SparkEntry.queries(lane)(spark, args(0)).write.parquet(s"$checkDir/$lane")
    }
    val clean = w.checks(got, checkDir)
    expect(s"cdc checks pass on the real results (${clean.filterNot(_.ok).map(_.name)})",
      clean.forall(_.ok))
    val apply = graft.cdc.Apply.latest(graft.cdc.Envelope.flat(graft.Tables.events(spark, args(0))))
    val pk = apply.agg(min("pk")).head().getLong(0)
    val planted = apply.withColumn("last_value",
      when(col("pk") === pk, col("last_value") + 1).otherwise(col("last_value")))
    val plantedPv = Digest.read(Digest.frame(planted,
      Seq("pv" -> Seq(col("pk"), round(col("last_value"), 2)))), Seq("pv"), Nil)("pv")
    val bad = w.checks(got.updated("snapwire", got("snapwire").updated("pv", plantedPv)), checkDir)
    expect("a planted wrong replica value fails snapwire_matches_apply",
      bad.exists(c => c.name == "snapwire_matches_apply" && !c.ok && c.op == "snapwire"))
    val rerun = Workloads.sameEveryPass(Map("apply" -> Seq(got("apply"),
      got("apply").updated("pv", plantedPv))))
    expect("a pass that digests differently fails apply_same_every_pass", rerun.forall(!_.ok))

    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
