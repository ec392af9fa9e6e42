package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** A fixed Spark job that calls no engine code: the yardstick the CPU
  * cost of a pass is measured in.
  *
  * On a VM whose host is shared, the CPU time a piece of work takes
  * depends on what the other guests run (caches and hyperthreads are
  * shared, and the guest cannot see it): the same pass read up to 1.7×
  * more CPU time per item on a busy host than on a quiet one. Run right
  * after each counted pass, this job meets the same host, and the
  * ratio of the two CPU times cancels most of it. The job uses only
  * Spark's built-in expressions (string hashing, an aggregation, a
  * shuffle join), so a change to the engine cannot move it.
  */
object Reference {
  val Rows = 300000L

  /** One run of the job; the noop sink consumes every column. */
  def run(spark: SparkSession): Unit = {
    val a = spark.range(0, Rows, 1, Ctx.Partitions)
      .select(col("id"), pmod(hash(col("id")), lit(4093)).as("k"), sha2(col("id").cast("string"), 256).as("h"))
    val b = a.groupBy("k").agg(count(lit(1)).as("n"), max("h").as("mh"))
    Workload.noop(a.join(b, "k").select(col("k"), (length(concat(col("h"), col("mh"))) + col("n")).as("v")))
  }
}
