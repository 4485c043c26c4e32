package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Loads the classes every workload needs (session start, TSV and parquet
  * I/O, shuffles, windows, a streaming query) so that `build.py` can dump
  * them into a class-data-sharing archive when this JVM exits. It measures
  * nothing and touches only its own directory.
  *
  *   perfbench.ClassTraining DIR
  */
object ClassTraining {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$dir/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = spark.range(2000).select((col("id") % 7).as("k"), col("id").cast("string").as("v"),
      to_date(lit("2024-01-15")).as("d"))
    df.write.option("header", "true").option("sep", "\t").csv(s"$dir/tsv")
    val tsv = spark.read.option("header", "true").option("sep", "\t").csv(s"$dir/tsv")
    tsv.withColumn("r", row_number().over(Window.partitionBy("k").orderBy("v")))
      .write.partitionBy("k").parquet(s"$dir/parquet")
    val pq = spark.read.parquet(s"$dir/parquet")
    pq.join(pq.groupBy("k").agg(count(lit(1)).as("n")), Seq("k"), "left_anti").count()
    spark.readStream.schema(pq.schema).parquet(s"$dir/parquet")
      .groupBy("k").count()
      .writeStream.format("memory").queryName("training").outputMode("complete")
      .option("checkpointLocation", s"$dir/ckpt").trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    spark.stop()
  }
}
