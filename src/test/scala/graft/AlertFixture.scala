package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.AlertStream

/** Alert packets in the broker's shape, for the specs that stream or
  * import them. */
object AlertFixture {
  /** Alert packets `ids` of one object at (ra, dec), each with one
    * previous detection and one forced source. */
  def alerts(spark: SparkSession, ids: Seq[Long], objId: Long, ra: Double,
      dec: Double): DataFrame = {
    import spark.implicits._
    // current sources carry the extra slice (snr etc.); prv sources
    // leave it null — mirrors brokers that only enrich the triggering
    // detection
    val rows = ids.map { i =>
      (i,
        (i, objId, i % 100, "r", 60000.0 + i, 1.0f, 0.1f, ra, dec,
          7.5f, 12.0f, 0.5f, 0.1f, 0.9f),
        Seq((i - 1, objId, (i - 1) % 100, "r", 60000.0 + i - 1, 0.9f, 0.1f, ra, dec,
          null.asInstanceOf[java.lang.Float], null.asInstanceOf[java.lang.Float],
          null.asInstanceOf[java.lang.Float], null.asInstanceOf[java.lang.Float],
          null.asInstanceOf[java.lang.Float])),
        Seq((i * 10, objId, i % 100, "r", 59999.0 + i, 0.5f, 0.1f, 2.0f, 0.2f)),
        (objId, ra, dec))
    }
    rows.toDF("alertId", "_s", "_prv", "_prvf", "_o")
      .select(col("alertId"),
        col("_s").cast(AlertStream.sourceStruct).as("diaSource"),
        col("_prv").cast(org.apache.spark.sql.types.ArrayType(AlertStream.sourceStruct)).as("prvDiaSources"),
        col("_prvf").cast(org.apache.spark.sql.types.ArrayType(AlertStream.forcedStruct)).as("prvDiaForcedSources"),
        col("_o").cast(AlertStream.alertSchema("diaObject").dataType).as("diaObject"))
      // even alerts ship a difference cutout; every alert carries one
      // classification whose probability encodes the alert id
      .withColumn("cutoutDifference",
        when(col("alertId") % 2 === 0, concat(lit("FITS"), col("alertId").cast("string")).cast("binary")))
      .withColumn("cutoutScience", lit(null).cast("binary"))
      .withColumn("cutoutTemplate", lit(null).cast("binary"))
      .withColumn("classifications", array(struct(
        lit(111).cast("int").as("classId"),
        (col("alertId") / 1000.0).as("probability"))))
  }
}
