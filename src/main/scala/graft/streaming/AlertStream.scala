package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.merge.SourceImporter

/** §3.3 — alert-stream ingestion as Structured Streaming.
  *
  * Reference chain: Kafka avro → Mongo staging → cron importer
  * (brokerconsumer.py / source_importer.py). Spark-native chain:
  * `readStream` (any source) → `foreachBatch` [[importAlerts]]: persist
  * the batch's alert frame once, wrangle it into typed row streams,
  * silver merge. The build ships no Kafka/avro connector jars, so the
  * bundled source here is a schema'd parquet *file* stream — swapping
  * in `readStream.format("kafka")` + `from_avro(...)` changes only
  * `reader()`; wrangle and merge are source-agnostic. foreachBatch
  * (not continuous) is load-bearing: root-object association is
  * sequential across batches (T7).
  */
object AlertStream {

  /** Essential fields of an lsst.v10_0 alert packet
    * (share/avsc/lsst.v10_0.alert.avsc). Core photometry fields feed
    * `diasource`/`diaforcedsource`; the trailing nullable fields are
    * the representative slice of the wide *_extra columns
    * (brokerconsumer.py's `_filter_dict_to_table` split), the cutouts
    * are opaque binary payloads, and `classifications` stands in for
    * the broker-added non-standard envelope that lands in
    * `diasource_brokerinfo.info`. */
  val sourceStruct: StructType = StructType(Seq(
    StructField("diaSourceId", LongType), StructField("diaObjectId", LongType),
    StructField("visit", LongType), StructField("band", StringType),
    StructField("midpointMjdTai", DoubleType),
    StructField("psfFlux", FloatType), StructField("psfFluxErr", FloatType),
    StructField("ra", DoubleType), StructField("dec", DoubleType),
    StructField("snr", FloatType), StructField("scienceFlux", FloatType),
    StructField("scienceFluxErr", FloatType),
    StructField("extendedness", FloatType), StructField("reliability", FloatType)))

  val forcedStruct: StructType = StructType(Seq(
    StructField("diaForcedSourceId", LongType), StructField("diaObjectId", LongType),
    StructField("visit", LongType), StructField("band", StringType),
    StructField("midpointMjdTai", DoubleType),
    StructField("psfFlux", FloatType), StructField("psfFluxErr", FloatType),
    StructField("scienceFlux", FloatType), StructField("scienceFluxErr", FloatType)))

  val classificationStruct: StructType = StructType(Seq(
    StructField("classId", IntegerType), StructField("probability", DoubleType)))

  val alertSchema: StructType = StructType(Seq(
    StructField("alertId", LongType),
    StructField("diaSource", sourceStruct),
    StructField("prvDiaSources", ArrayType(sourceStruct)),
    StructField("prvDiaForcedSources", ArrayType(forcedStruct)),
    StructField("diaObject", StructType(Seq(
      StructField("diaObjectId", LongType),
      StructField("ra", DoubleType), StructField("dec", DoubleType)))),
    StructField("cutoutDifference", BinaryType),
    StructField("cutoutScience", BinaryType),
    StructField("cutoutTemplate", BinaryType),
    StructField("classifications", ArrayType(classificationStruct))))

  final case class Wrangled(objects: DataFrame, sources: DataFrame,
      forced: DataFrame, sourcesExtra: DataFrame, forcedExtra: DataFrame,
      brokerinfo: DataFrame, thumbnails: DataFrame)

  /** The ingest stamp column: one `current_timestamp()` per batch,
    * added beneath the persisted alert frame by [[importAlerts]]. */
  val Stamp = "ingest_ts"

  /** brokerconsumer.py:534-649's alert_wrangler: split each alert into
    * object / source / source-extra / forced / forced-extra /
    * brokerinfo / thumbnail staging rows (current + previous sources —
    * at-least-once duplicates are expected and removed by the merge).
    * `brokername`/`topic` come from the consumer context, exactly as
    * the reference's metamsg carries them. Every row's ingest time is
    * the alert frame's [[Stamp]] column; a frame without one is stamped
    * here, once per executed plan. */
  def wrangle(alerts: DataFrame, baseProcverId: String,
      brokername: String = "direct", topic: String = "alerts"): Wrangled = {
    val stamped =
      if (alerts.columns.contains(Stamp)) alerts
      else alerts.withColumn(Stamp, current_timestamp())
    val ts = col(Stamp)
    val objects = stamped.select(
      col("diaObject.diaObjectId").as("diaobjectid"),
      lit(baseProcverId).as("base_procver_id"),
      col("diaObject.ra").as("ra"), col("diaObject.dec").as("dec"),
      ts.as("ingest_ts"))

    def srcRow(c: org.apache.spark.sql.Column) = struct(
      c.getField("diaSourceId").as("diasourceid"),
      c.getField("diaObjectId").as("diaobjectid"),
      c.getField("visit").as("visit"), c.getField("band").as("band"),
      c.getField("midpointMjdTai").as("midpointmjdtai"),
      c.getField("psfFlux").as("psfflux"), c.getField("psfFluxErr").as("psffluxerr"),
      c.getField("ra").as("ra"), c.getField("dec").as("dec"),
      c.getField("snr").as("snr"),
      c.getField("scienceFlux").as("scienceflux"),
      c.getField("scienceFluxErr").as("sciencefluxerr"),
      c.getField("extendedness").as("extendedness"),
      c.getField("reliability").as("reliability"))

    val stagedSourceType = ArrayType(StructType(Seq(
      StructField("diasourceid", LongType), StructField("diaobjectid", LongType),
      StructField("visit", LongType), StructField("band", StringType),
      StructField("midpointmjdtai", DoubleType),
      StructField("psfflux", FloatType), StructField("psffluxerr", FloatType),
      StructField("ra", DoubleType), StructField("dec", DoubleType),
      StructField("snr", FloatType), StructField("scienceflux", FloatType),
      StructField("sciencefluxerr", FloatType),
      StructField("extendedness", FloatType), StructField("reliability", FloatType))))
    // one exploded (current + prv) source stream feeds both the core
    // and the extra split — the collection split is a projection, not
    // a second scan
    val allSources = stamped.select(explode(concat(
        array(srcRow(col("diaSource"))),
        coalesce(transform(col("prvDiaSources"), srcRow _),
          array().cast(stagedSourceType))))
        .as("s"), ts)
      .select(col("s.*"), lit(baseProcverId).as("base_procver_id"), ts)

    val sources = allSources
      .drop("snr", "scienceflux", "sciencefluxerr", "extendedness", "reliability")
      // position errors arrive only via non-alert channels; the silver
      // schema keeps them nullable (Schemas.diaSource)
      .withColumn("raerr", lit(null).cast("float"))
      .withColumn("decerr", lit(null).cast("float"))
      .withColumn("ra_dec_cov", lit(null).cast("float"))

    // _wrangle_diasource_extra returns None when every extra field is
    // absent — rows that are all-null stage nothing
    val extraCols = Seq("snr", "scienceflux", "sciencefluxerr",
      "extendedness", "reliability")
    val sourcesExtra = allSources
      .select((Seq("diasourceid", "base_procver_id") ++ extraCols :+ "ingest_ts")
        .map(col): _*)
      .filter(extraCols.map(c => col(c).isNotNull).reduce(_ || _))

    val allForced = stamped.select(explode(coalesce(col("prvDiaForcedSources"),
        array().cast(ArrayType(forcedStruct)))).as("f"), ts)
      .select(
        col("f.diaForcedSourceId").as("diaforcedsourceid"),
        col("f.diaObjectId").as("diaobjectid"),
        col("f.visit").as("visit"), col("f.band").as("band"),
        col("f.midpointMjdTai").as("midpointmjdtai"),
        col("f.psfFlux").as("psfflux"), col("f.psfFluxErr").as("psffluxerr"),
        col("f.scienceFlux").as("scienceflux"),
        col("f.scienceFluxErr").as("sciencefluxerr"),
        lit(baseProcverId).as("base_procver_id"), ts)

    val forced = allForced
      .drop("scienceflux", "sciencefluxerr")
      .withColumn("ra", lit(null).cast("double"))
      .withColumn("dec", lit(null).cast("double"))

    val forcedExtra = allForced
      .select(col("diaforcedsourceid"), col("base_procver_id"),
        col("scienceflux"), col("sciencefluxerr"), col("ingest_ts"))
      .filter(col("scienceflux").isNotNull || col("sciencefluxerr").isNotNull)

    // one brokerinfo row per alert: consumer metadata + the prv id
    // arrays + every non-standard field as a JSON envelope
    // (alert_wrangler's brokerinfos list, brokerconsumer.py:625-649)
    val brokerinfo = stamped.select(
      lit(brokername).as("brokername"), lit(topic).as("topic"),
      col("diaSource.diaSourceId").as("diasourceid"),
      lit(baseProcverId).as("base_procver_id"),
      col("diaSource.diaObjectId").as("diaobjectid"),
      ts.as("msgtime"), ts.as("receivedtime"), ts.as("importtime"),
      transform(col("prvDiaSources"), p => p.getField("diaSourceId"))
        .as("prv_diasourceid"),
      transform(col("prvDiaForcedSources"), p => p.getField("diaForcedSourceId"))
        .as("prv_diaforcedsourceid"),
      when(col("classifications").isNotNull,
        to_json(struct(col("classifications")))).as("info"),
      ts.as("ingest_ts"))

    // thumbnails stage only when some cutout arrived
    // (_wrangle_all_standard_lsst_fields, brokerconsumer.py:565-575)
    val thumbnails = stamped
      .filter(col("cutoutDifference").isNotNull ||
        col("cutoutScience").isNotNull || col("cutoutTemplate").isNotNull)
      .select(
        col("diaSource.diaSourceId").as("diasourceid"),
        lit(baseProcverId).as("base_procver_id"),
        col("diaSource.diaObjectId").as("diaobjectid"),
        col("cutoutDifference").as("cutoutdifference"),
        col("cutoutScience").as("cutoutscience"),
        col("cutoutTemplate").as("cutouttemplate"),
        ts.as("ingest_ts"))

    Wrangled(objects, sources, forced, sourcesExtra, forcedExtra,
      brokerinfo, thumbnails)
  }

  /** File-source alert stream → foreachBatch silver merge into `store`.
    * `maxFilesPerTrigger` plays the role of the reference's 1000-msg
    * consume batches (T1). Blocks until `processAllAvailable` if
    * `awaitAll`. `compactEvery` bounds segment growth of the
    * log-structured store: every Nth batch rewrites each table to a
    * single segment (0 = never; read amplification, not correctness,
    * is what degrades without it). */
  def run(spark: SparkSession, inputDir: String, store: SilverStore,
      baseProcverId: String, checkpointDir: String,
      maxFilesPerTrigger: Int = 10, awaitAll: Boolean = false,
      compactEvery: Int = 0): StreamingQuery = {
    val stream = spark.readStream.schema(alertSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inputDir)
    val nBatches = new java.util.concurrent.atomic.AtomicLong(0)
    val q = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime("1 second"))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (compactEvery > 0 && nBatches.incrementAndGet() % compactEvery == 0)
          store.compact(spark)
        importAlerts(spark, store, batch, baseProcverId)
      }
      .start()
    if (awaitAll) { q.processAllAvailable(); q.stop() }
    q
  }

  /** One micro-batch's silver merge: wrangle `alerts`, import it against
    * the store and append only its new rows ([[SilverStore.saveDelta]]),
    * not a recomputation of the catalog. The alert frame is the one
    * persisted frame: saveDelta executes one plan per touched table (up
    * to 9), and each re-reads it instead of re-running the input scan.
    * The ingest stamp ([[Stamp]]) is a column beneath that cache, so
    * every table of the batch gets the same value, and no plan above
    * the cache inlines a per-batch literal: the generated classes of
    * one batch are reused by the next from Spark's codegen cache. */
  def importAlerts(spark: SparkSession, store: SilverStore, alerts: DataFrame,
      baseProcverId: String, brokername: String = "direct",
      topic: String = "alerts"): Unit = {
    val stamped = alerts.withColumn(Stamp, current_timestamp()).persist()
    try {
      val w = wrangle(stamped, baseProcverId, brokername, topic)
      val (_, deltas) = SourceImporter.importBatchWithDeltas(
        store.load(spark), w.objects, w.sources, w.forced,
        stagedSourcesExtra = Some(w.sourcesExtra),
        stagedForcedExtra = Some(w.forcedExtra),
        stagedBrokerinfo = Some(w.brokerinfo),
        stagedThumbnails = Some(w.thumbnails))
      store.saveDelta(deltas)
    } finally stamped.unpersist()
  }
}
