package graft.streaming

import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** T10 — per-broker consumer variants
  * (src/services/brokerconsumer.py:913-1146). Each broker differs from
  * the plain LSST consumer in three separable ways, modeled here as
  * data + pure functions so every piece is testable without a live
  * Kafka (the environment ships no connector jars; see
  * [[AlertStream.run]]'s swap point for where `readStream
  * .format("kafka").options(cfg.consumerOptions)` plugs in):
  *
  *  1. FRAMING — how avro bytes are wrapped. Schemaless (bare datum,
  *     the default), or Confluent-style wire format with a magic byte
  *     + 4-byte schema id before the datum (Pitt-Google reads
  *     `alert.msg.data[5:]`; Fink's schema-in-key is the same idea
  *     with the writer schema shipped in the message key).
  *  2. SECURITY / CONNECTION — per-broker SASL mechanisms and
  *     endpoints, expressed as the consumer option map the Kafka
  *     source takes verbatim.
  *  3. TOPIC DISCOVERY — static lists, or Alerce's dated-topic
  *     rediscovery (regex over the broker's topics, keeping dates in
  *     [today + earlyOffset, today + 2], minus a known-bad list).
  */
object Brokers {

  sealed trait Framing
  /** Bare avro datum (reader supplies the schema). */
  case object Schemaless extends Framing
  /** 1 magic byte + 4-byte schema-id prefix before the datum
    * (brokerconsumer.py:1123: `alert.msg.data[5:]`). */
  case object ConfluentWire extends Framing

  final case class BrokerConfig(
      brokername: String,
      servers: String,
      groupId: String,
      framing: Framing,
      consumerOptions: Map[String, String],
      topics: Seq[String],
      dynamicTopics: Boolean = false)

  /** Fink: schema-in-key — the writer schema travels in the message
    * KEY while the value stays a bare datum, so value framing is
    * Schemaless (our decoder reads with the fixed reader schema and
    * ignores the key; brokerconsumer.py:913-925). */
  def fink(groupId: String,
      servers: String = "kafka-lsst.fink-broker.org:24499"): BrokerConfig =
    BrokerConfig("Fink", servers, groupId, Schemaless,
      Map("kafka.bootstrap.servers" -> servers), Seq("fink_lsst"))

  /** AMPEL via SCiMMA: SCRAM-SHA-512 over SASL_SSL, group id must be
    * prefixed by the username (brokerconsumer.py:929-959). */
  def ampel(username: String, password: String, groupId: String,
      servers: String = "kafka.scimma.org"): BrokerConfig = {
    require(groupId.startsWith(username),
      s"groupid must start with $username")
    BrokerConfig("AMPEL", servers, groupId, Schemaless,
      Map(
        "kafka.bootstrap.servers" -> servers,
        "kafka.sasl.mechanism" -> "SCRAM-SHA-512",
        "kafka.security.protocol" -> "SASL_SSL",
        "kafka.sasl.jaas.config" ->
          ("org.apache.kafka.common.security.scram.ScramLoginModule required " +
            s"""username="$username" password="$password";""")),
      Seq("ampel_lsst"))
  }

  /** Antares: PLAIN SASL_SSL with a pinned CA
    * (brokerconsumer.py:964-1003). */
  def antares(username: String, password: String, groupId: String,
      caLocation: String,
      servers: String = "kafka.antares.noirlab.edu:9092"): BrokerConfig =
    BrokerConfig("ANTARES", servers, groupId, Schemaless,
      Map(
        "kafka.bootstrap.servers" -> servers,
        "kafka.sasl.mechanism" -> "PLAIN",
        "kafka.security.protocol" -> "SASL_SSL",
        "kafka.ssl.endpoint.identification.algorithm" -> "none",
        "kafka.ssl.truststore.location" -> caLocation,
        "kafka.sasl.jaas.config" ->
          ("org.apache.kafka.common.security.plain.PlainLoginModule required " +
            s"""username="$username" password="$password";"""),
        "startingOffsets" -> "earliest"),
      Seq("antares_lsst"))

  /** Alerce: SCRAM SASL + dated-topic rediscovery — topics are listed
    * per classifier per day; [[alerceTopics]] reselects before each
    * consume cycle (brokerconsumer.py:1008-1057). */
  def alerce(username: String, password: String, groupId: String,
      servers: String = "kafka.alerce.science:9093"): BrokerConfig =
    BrokerConfig("alerce", servers, groupId, Schemaless,
      Map(
        "kafka.bootstrap.servers" -> servers,
        "kafka.sasl.mechanism" -> "SCRAM-SHA-512",
        "kafka.security.protocol" -> "SASL_SSL",
        "kafka.sasl.jaas.config" ->
          ("org.apache.kafka.common.security.scram.ScramLoginModule required " +
            s"""username="$username" password="$password";""")),
      Seq.empty, dynamicTopics = true)

  /** Pitt-Google: pub/sub rather than Kafka; messages carry the
    * Confluent-style schema-id prefix (brokerconsumer.py:1060-1146).
    * No Spark Pub/Sub connector exists, so this path's source is the
    * custom V2 micro-batch source [[PubSubLikeSource]] — envelope
    * schema, offset tracking, partition fan-out, and checkpoint
    * replay are all real and spec-driven; only the transport behind
    * it is the in-process stub a deployment swaps for the subscriber
    * client. */
  def pittGoogle(topic: String, project: String): BrokerConfig =
    BrokerConfig("Pitt-Google", s"pubsub:$project", "not_used",
      ConfluentWire, Map("topic" -> topic), Seq(topic))

  /** Alerce's update_topics as a pure function: keep topics whose
    * trailing date falls in [today + earlyOffset, today + 2], drop the
    * known-bad list. */
  def alerceTopics(available: Seq[String], today: LocalDate,
      earlyOffset: Int = -4,
      pattern: String = """^lc_classifier_.*_(\d{8})$""",
      badTopics: Set[String] = Set("lc_classifier_balto_20230807")): Seq[String] = {
    val re = pattern.r
    val wanted = (earlyOffset to 2).map { d =>
      val t = today.plusDays(d)
      f"${t.getYear}%04d${t.getMonthValue}%02d${t.getDayOfMonth}%02d"
    }.toSet
    available.filter {
      case t @ re(date) => wanted.contains(date) && !badTopics.contains(t)
      case _ => false
    }
  }

  /** The PRODUCTION reader: the real `format("kafka")` source wired to
    * this broker's consumer options, subscription, and start offsets.
    * This compiles and constructs against stock Spark — the kafka
    * provider is resolved BY NAME at `load()` — so the deploy-time
    * difference between this environment and production is exactly one
    * connector jar on the classpath, nothing in this code. In a
    * jar-less environment `load()` throws Spark's standard
    * "Failed to find data source: kafka" (pinned by spec as the only
    * missing piece). Downstream of `load()` the column contract is the
    * fixed Kafka envelope (key/value binary, topic, partition, offset,
    * timestamp), which [[kafkaAlerts]] feeds through the same framing
    * decode + wrangle path the file source exercises.
    *
    * Dated-topic brokers (`dynamicTopics`) subscribe by PATTERN — the
    * source re-matches topics at runtime, the streaming analogue of
    * [[alerceTopics]]'s periodic rediscovery; static brokers get a
    * plain `subscribe` list. Not for Pitt-Google (pub/sub, not
    * kafka — guarded). */
  def kafkaSource(spark: SparkSession, cfg: BrokerConfig,
      startingOffsets: String = "earliest",
      maxOffsetsPerTrigger: Option[Long] = None): DataFrame = {
    require(!cfg.servers.startsWith("pubsub:"),
      s"${cfg.brokername} is a pub/sub broker, not kafka")
    var r = spark.readStream.format("kafka")
      .options(cfg.consumerOptions)
      .option("kafka.group.id", cfg.groupId)
      .option("startingOffsets", startingOffsets)
    r = if (cfg.dynamicTopics)
          r.option("subscribePattern", cfg.topics.mkString("|"))
        else r.option("subscribe", cfg.topics.mkString(","))
    maxOffsetsPerTrigger.foreach(n =>
      r = r.option("maxOffsetsPerTrigger", n.toString))
    r.load()
  }

  /** Decoded alert stream from the production source: envelope →
    * framing decode → the alert schema; feed the result to
    * [[AlertStream.importAlerts]] exactly like the file stream. */
  def kafkaAlerts(spark: SparkSession, cfg: BrokerConfig,
      startingOffsets: String = "earliest"): DataFrame =
    decode(spark,
      kafkaSource(spark, cfg, startingOffsets)
        .select(col("topic"), col("value")),
      "value", cfg.framing)

  /** Decode a binary alert column under the broker's framing. */
  def decode(spark: SparkSession, df: DataFrame, valueCol: String,
      framing: Framing): DataFrame = framing match {
    case Schemaless => AvroAlerts.decode(spark, df, valueCol)
    case ConfluentWire =>
      // substring is 1-based and works on binary: drop the 5-byte
      // magic + schema-id prefix, then decode the bare datum
      AvroAlerts.decode(spark,
        df.withColumn(valueCol,
          expr(s"substring($valueCol, 6, ${Int.MaxValue})")),
        valueCol)
  }
}
