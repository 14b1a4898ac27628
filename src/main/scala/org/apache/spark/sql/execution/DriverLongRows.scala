package org.apache.spark.sql.execution

import org.apache.spark.sql.{classic, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BoundReference, GenericInternalRow}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, SinglePartition}
import org.apache.spark.sql.types.LongType

/** BIGINT columns held on the driver, as a `DataFrame` whose plan
  * declares the partitioning its rows were placed by, as a cut's
  * `LogicalRDD` declares its plan's. One partition declares
  * `SinglePartition`. More declare hash partitioning on `key`, and
  * each row is placed by Spark's own partition-id expression for it,
  * so an aggregate or join clustered on `key` plans no exchange. The
  * rows live in the RDD's partitions: nothing is persisted or
  * checkpointed. Lives in Spark's package for `LogicalRDD`'s session
  * and `Dataset.ofRows`. */
object DriverLongRows {

  def apply(s: SparkSession, names: Seq[String], columns: Seq[Array[Long]],
      key: String, numPartitions: Int): DataFrame = {
    val session = s.asInstanceOf[classic.SparkSession]
    val output = names.map(AttributeReference(_, LongType, nullable = false)())
    val keys = columns(names.indexOf(key))
    val placed = Array.fill(numPartitions)(Array.newBuilder[Int])
    if (numPartitions == 1) placed(0) ++= keys.indices
    else {
      val pid = HashPartitioning(Seq(BoundReference(0, LongType, nullable = false)),
        numPartitions).partitionIdExpression
      val row = new GenericInternalRow(1)
      keys.indices.foreach { i =>
        row.setLong(0, keys(i))
        placed(pid.eval(row).asInstanceOf[Int]) += i
      }
    }
    val slices = placed.toSeq.map { b =>
      val rows = b.result()
      columns.map(c => rows.map(c(_)))
    }
    val rdd = session.sparkContext.parallelize(slices, numPartitions)
      .mapPartitions(_.flatMap { cols =>
        cols.head.indices.iterator.map(i =>
          new GenericInternalRow(cols.map(_(i): Any).toArray): InternalRow)
      })
    val partitioning =
      if (numPartitions == 1) SinglePartition
      else HashPartitioning(Seq(output(names.indexOf(key))), numPartitions)
    val n = BigInt(keys.length)
    classic.Dataset.ofRows(session, LogicalRDD(output, rdd, partitioning)(
      session, Some(Statistics(n * 8 * (names.size + 1), Some(n)))))
  }
}
