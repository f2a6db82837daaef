package graft.tools

import graft.{GraftSession, Measure, SparkEntry}

/** Times named queries (noop sink) at SPARK_GRAFT_SF_DIR.
  *
  * Round-15 measurement upgrade: single readings on this box swing ±50%
  * (OPTIMIZATION_r14.md §Measurement environment), so keep/revert calls
  * must rest on medians, not pairs. Each named query runs 1 untimed
  * warm-up + SPARK_GRAFT_REPS timed repetitions (default 5) through the
  * shared [[Measure]] core and prints every reading plus a MEDIAN line with
  * min/max spread and the per-reading Spark job count (the
  * contention-immune arbitration signal: an inflated wall at an unchanged
  * job count is box noise, not a plan change).
  *
  * Usage: runMain graft.tools.Time <name>...
  */
object Time {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.get("SPARK_GRAFT_REPS").map(_.toInt).getOrElse(5)
    val measure = new Measure(spark)

    args.foreach { name =>
      val (_, rs) = measure.warmThenTime(reps) {
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
      }
      rs.zipWithIndex.foreach { case (r, i) =>
        println(f"TIMER $name rep=${i + 1} ${r.sec}%.2f s jobs=${r.jobs}")
      }
      val sorted = rs.map(_.sec).sorted
      val med =
        if (reps % 2 == 1) sorted(reps / 2)
        else (sorted(reps / 2 - 1) + sorted(reps / 2)) / 2.0
      println(f"MEDIAN $name ${med}%.2f s " +
        f"min=${sorted.head}%.2f max=${sorted.last}%.2f " +
        s"jobs=${rs.map(_.jobs).distinct.mkString("/")} reps=$reps")
    }
    spark.stop()
  }
}
