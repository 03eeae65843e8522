package graft.streaming

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.io.DecoderFactory
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Avro alert-packet decoding (share/avsc/lsst.v10_0.alert.avsc shape,
  * loader src/util.py:637-670).
  *
  * The environment ships avro-1.12.1 but not the spark-avro connector,
  * so `from_avro` is unavailable; decoding runs per-partition over the
  * binary column with a reused GenericDatumReader — the sanctioned
  * imperative-per-partition case. In a deployment with spark-avro on
  * the classpath, replace [[decode]] with
  * `from_avro(col, schemaJson)` and nothing else changes: the output
  * rows already match [[AlertStream.alertSchema]], so wrangle/merge are
  * decoder-agnostic. Schemaless (writer-schema-supplied) decoding, the
  * reference's default broker mode (brokerconsumer.py:651-696).
  */
object AvroAlerts {

  /** Subset of lsst.v10_0.alert.avsc that the engine consumes. */
  val alertAvsc: String = {
    val src = """
      |{"type":"record","name":"alert","namespace":"graft.avro","fields":[
      | {"name":"alertId","type":"long"},
      | {"name":"diaSource","type":{"type":"record","name":"diaSource","fields":[
      |   {"name":"diaSourceId","type":"long"},{"name":"diaObjectId","type":"long"},
      |   {"name":"visit","type":"long"},{"name":"band","type":["null","string"],"default":null},
      |   {"name":"midpointMjdTai","type":"double"},
      |   {"name":"psfFlux","type":["null","float"],"default":null},
      |   {"name":"psfFluxErr","type":["null","float"],"default":null},
      |   {"name":"ra","type":"double"},{"name":"dec","type":"double"},
      |   {"name":"snr","type":["null","float"],"default":null},
      |   {"name":"scienceFlux","type":["null","float"],"default":null},
      |   {"name":"scienceFluxErr","type":["null","float"],"default":null},
      |   {"name":"extendedness","type":["null","float"],"default":null},
      |   {"name":"reliability","type":["null","float"],"default":null}]}},
      | {"name":"prvDiaSources","type":["null",{"type":"array","items":"diaSource"}],"default":null},
      | {"name":"prvDiaForcedSources","type":["null",{"type":"array","items":
      |   {"type":"record","name":"diaForcedSource","fields":[
      |     {"name":"diaForcedSourceId","type":"long"},{"name":"diaObjectId","type":"long"},
      |     {"name":"visit","type":"long"},{"name":"band","type":["null","string"],"default":null},
      |     {"name":"midpointMjdTai","type":"double"},
      |     {"name":"psfFlux","type":["null","float"],"default":null},
      |     {"name":"psfFluxErr","type":["null","float"],"default":null},
      |     {"name":"scienceFlux","type":["null","float"],"default":null},
      |     {"name":"scienceFluxErr","type":["null","float"],"default":null}]}}],"default":null},
      | {"name":"diaObject","type":{"type":"record","name":"diaObject","fields":[
      |   {"name":"diaObjectId","type":"long"},
      |   {"name":"ra","type":"double"},{"name":"dec","type":"double"}]}},
      | {"name":"cutoutDifference","type":["null","bytes"],"default":null},
      | {"name":"cutoutScience","type":["null","bytes"],"default":null},
      | {"name":"cutoutTemplate","type":["null","bytes"],"default":null},
      | {"name":"classifications","type":["null",{"type":"array","items":
      |   {"type":"record","name":"classification","fields":[
      |     {"name":"classId","type":"int"},
      |     {"name":"probability","type":"double"}]}}],"default":null}
      |]}""".stripMargin
    src
  }

  private def str(v: AnyRef): String = if (v == null) null else v.toString

  private def bytes(v: AnyRef): Array[Byte] = v match {
    case null => null
    case b: java.nio.ByteBuffer =>
      val out = new Array[Byte](b.remaining()); b.duplicate().get(out); out
    case a: Array[Byte] => a
  }

  private def srcRow(r: GenericRecord): Row = Row(
    r.get("diaSourceId"), r.get("diaObjectId"), r.get("visit"),
    str(r.get("band").asInstanceOf[AnyRef]), r.get("midpointMjdTai"),
    r.get("psfFlux"), r.get("psfFluxErr"), r.get("ra"), r.get("dec"),
    r.get("snr"), r.get("scienceFlux"), r.get("scienceFluxErr"),
    r.get("extendedness"), r.get("reliability"))

  private def forcedRow(r: GenericRecord): Row = Row(
    r.get("diaForcedSourceId"), r.get("diaObjectId"), r.get("visit"),
    str(r.get("band").asInstanceOf[AnyRef]), r.get("midpointMjdTai"),
    r.get("psfFlux"), r.get("psfFluxErr"),
    r.get("scienceFlux"), r.get("scienceFluxErr"))

  private def alertRow(r: GenericRecord): Row = {
    import scala.jdk.CollectionConverters._
    val prvS = Option(r.get("prvDiaSources"))
      .map(_.asInstanceOf[java.util.List[GenericRecord]].asScala.map(srcRow).toSeq)
      .orNull
    val prvF = Option(r.get("prvDiaForcedSources"))
      .map(_.asInstanceOf[java.util.List[GenericRecord]].asScala.map(forcedRow).toSeq)
      .orNull
    val cls = Option(r.get("classifications"))
      .map(_.asInstanceOf[java.util.List[GenericRecord]].asScala
        .map(c => Row(c.get("classId"), c.get("probability"))).toSeq)
      .orNull
    val obj = r.get("diaObject").asInstanceOf[GenericRecord]
    Row(r.get("alertId"), srcRow(r.get("diaSource").asInstanceOf[GenericRecord]),
      prvS, prvF, Row(obj.get("diaObjectId"), obj.get("ra"), obj.get("dec")),
      bytes(r.get("cutoutDifference")), bytes(r.get("cutoutScience")),
      bytes(r.get("cutoutTemplate")), cls)
  }

  // ---- encoding (the producer's inverse of decode) -------------------

  /** Positional Row → avro record fill, field names taken from the
    * record schema itself: the avsc and the Spark struct types are the
    * two remaining copies of the field order (down from four), and the
    * arity check catches a drifted edit at the first encode instead of
    * silently mis-assigning neighbouring columns. */
  private def putByPosition(schema: Schema, r: Row): GenericRecord = {
    val rec = new org.apache.avro.generic.GenericData.Record(schema)
    val fields = schema.getFields
    require(fields.size == r.size,
      s"avro/struct arity skew for ${schema.getName}: ${fields.size} avro fields vs ${r.size} struct columns")
    var i = 0
    while (i < fields.size) {
      rec.put(fields.get(i).name, if (r.isNullAt(i)) null else r.get(i))
      i += 1
    }
    rec
  }

  private def putSrc(schema: Schema, r: Row): GenericRecord =
    putByPosition(schema, r)

  private def putForced(schema: Schema, r: Row): GenericRecord =
    putByPosition(schema, r)

  /** [[AlertStream.alertSchema]] rows → one binary avro datum per
    * alert, schemaless (the inverse of [[decode]]; writer allocated
    * once per partition — the projectsim emit path,
    * src/services/projectsim.py:270-320). */
  def encode(spark: SparkSession, alerts: DataFrame): DataFrame = {
    import org.apache.avro.generic.GenericDatumWriter
    import org.apache.avro.io.EncoderFactory
    val schemaJson = alertAvsc
    val rows = alerts.rdd.mapPartitions { it =>
      val schema = new Schema.Parser().parse(schemaJson)
      val srcSchema = schema.getField("diaSource").schema()
      val frcSchema = schema.getField("prvDiaForcedSources").schema()
        .getTypes.get(1).getElementType
      val clsSchema = schema.getField("classifications").schema()
        .getTypes.get(1).getElementType
      val objSchema = schema.getField("diaObject").schema()
      val writer = new GenericDatumWriter[GenericRecord](schema)
      it.map { row =>
        val a = new org.apache.avro.generic.GenericData.Record(schema)
        a.put("alertId", row.getLong(0))
        a.put("diaSource", putSrc(srcSchema, row.getStruct(1)))
        if (!row.isNullAt(2)) {
          val l = new java.util.ArrayList[GenericRecord]()
          row.getSeq[Row](2).foreach(r => l.add(putSrc(srcSchema, r)))
          a.put("prvDiaSources", l)
        }
        if (!row.isNullAt(3)) {
          val l = new java.util.ArrayList[GenericRecord]()
          row.getSeq[Row](3).foreach(r => l.add(putForced(frcSchema, r)))
          a.put("prvDiaForcedSources", l)
        }
        val o = row.getStruct(4)
        val obj = new org.apache.avro.generic.GenericData.Record(objSchema)
        obj.put("diaObjectId", o.getLong(0))
        obj.put("ra", o.getDouble(1)); obj.put("dec", o.getDouble(2))
        a.put("diaObject", obj)
        Seq(5, 6, 7).zip(Seq("cutoutDifference", "cutoutScience", "cutoutTemplate"))
          .foreach { case (i, n) =>
            if (!row.isNullAt(i))
              a.put(n, java.nio.ByteBuffer.wrap(row.getAs[Array[Byte]](i)))
          }
        if (!row.isNullAt(8)) {
          val l = new java.util.ArrayList[GenericRecord]()
          row.getSeq[Row](8).foreach { c =>
            val rec = new org.apache.avro.generic.GenericData.Record(clsSchema)
            rec.put("classId", c.get(0)); rec.put("probability", c.get(1))
            l.add(rec)
          }
          a.put("classifications", l)
        }
        val bos = new java.io.ByteArrayOutputStream()
        val enc = EncoderFactory.get().binaryEncoder(bos, null)
        writer.write(a, enc)
        enc.flush()
        Row(row.getLong(0), bos.toByteArray)
      }
    }
    spark.createDataFrame(rows, StructType(Seq(
      org.apache.spark.sql.types.StructField("alertId",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.BinaryType))))
  }

  /** Binary avro column → [[AlertStream.alertSchema]] rows. Reader and
    * decoder are allocated once per partition and reused per record. */
  def decode(spark: SparkSession, df: DataFrame, valueCol: String): DataFrame = {
    val schemaJson = alertAvsc
    val out: StructType = AlertStream.alertSchema
    val rows = df.select(valueCol).rdd.mapPartitions { it =>
      val schema = new Schema.Parser().parse(schemaJson)
      val reader = new GenericDatumReader[GenericRecord](schema)
      var decoder: org.apache.avro.io.BinaryDecoder = null
      it.map { row =>
        val bytes = row.getAs[Array[Byte]](0)
        decoder = DecoderFactory.get().binaryDecoder(bytes, decoder)
        alertRow(reader.read(null, decoder))
      }
    }
    spark.createDataFrame(rows, out)
  }
}
