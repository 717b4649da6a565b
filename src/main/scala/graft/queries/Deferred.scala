package graft.queries

import org.apache.spark.{Partition, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** A DataFrame of driver-computed rows whose computation waits until
  * the DataFrame is executed, not built. For registry queries whose
  * rows come from driver-side work (reading a fixture, running
  * nested Spark jobs): building such a query stays cheap and free of
  * I/O, so planning the whole registry needs none of its inputs, and
  * a missing input fails only that query's execution.
  *
  * The rows live in the single partition of an RDD whose
  * `getPartitions` runs `compute`. Spark resolves an RDD's partitions
  * on the calling thread before it submits a job, so `compute` may
  * itself run Spark jobs. It runs once per built DataFrame (the RDD
  * caches its partitions); if it throws, the executing action fails
  * with that exception and a later action retries it. */
object Deferred {

  def rows(spark: SparkSession, schema: StructType)(
      compute: => Seq[Row]): DataFrame =
    spark.createDataFrame(
      new RowsRDD(spark.sparkContext, () => compute), schema)

  private final class RowsPartition(val rows: Vector[Row]) extends Partition {
    override def index: Int = 0
  }

  // the thunk captures the session, which does not serialize; only
  // getPartitions (driver side) calls it
  private final class RowsRDD(sc: SparkContext,
      @transient private val thunk: () => Seq[Row])
      extends RDD[Row](sc, Nil) {
    override protected def getPartitions: Array[Partition] =
      Array(new RowsPartition(thunk().toVector))

    override def compute(split: Partition, context: TaskContext)
        : Iterator[Row] =
      split.asInstanceOf[RowsPartition].rows.iterator
  }
}
