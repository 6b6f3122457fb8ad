package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Generated inputs as the DataFrames graft takes, and graft's result rows
  * back as plain values.
  */
object Frames {

  val VectorSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("vec", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("meta", StringType, nullable = false)))

  val QuerySchema: StructType = StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("qvec", ArrayType(FloatType, containsNull = false), nullable = false)))

  val IdSchema: StructType = StructType(Seq(StructField("id", LongType, nullable = false)))

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  /** A large input: distributed over `partitions` slices, cached, and
    * materialised before it is returned.
    */
  def distributed(spark: SparkSession, rows: Seq[Row], schema: StructType, partitions: Int): DataFrame = {
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, partitions), schema).cache()
    df.count()
    df
  }

  def local(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  def vectorRows(ids: Seq[Long], vecs: Seq[Array[Float]], meta: Seq[String]): Seq[Row] =
    ids.indices.map(i => Row(ids(i), vecs(i).toSeq, meta(i)))

  def queries(spark: SparkSession, qs: Seq[(Long, Array[Float])]): DataFrame =
    local(spark, qs.map { case (id, v) => Row(id, v.toSeq) }, QuerySchema)

  def ids(spark: SparkSession, ids: Seq[Long]): DataFrame =
    local(spark, ids.map(Row(_)), IdSchema)

  def hits(rows: Array[Row]): Seq[Checks.Hit] =
    rows.toSeq.map(r => Checks.Hit(
      r.getAs[Number]("query_id").longValue, r.getAs[Number]("rank").intValue,
      r.getAs[Number]("id").longValue, r.getAs[Number]("dist").doubleValue))
}
