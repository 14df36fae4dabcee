package graft.sources.kafkasim

import java.util

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** "kafkasim" DataSource V2: a Kafka-connector-compatible source over a
  * [[SimBroker]] directory. Replicates the option surface the reference
  * jobs use (`subscribe`, `startingOffsets`, `endingOffsets`,
  * `failOnDataLoss` — reference `KafkaAvroToIceberg.scala:55-64`,
  * `KafkaBatchJob.java:70-77`) and the Kafka 7-column wire schema.
  *
  * Scale design: one Spark input partition per (topic, partition) —
  * the connector's planning strategy — so reads parallelize with the
  * topic layout and never shuffle. Column pruning is pushed into the
  * reader (`SupportsPushDownRequiredColumns`), mirroring the built-in
  * connector's behavior that Catalyst prunes `key`/`topic`/... when
  * only `value` is consumed.
  *
  * Offsets serialize as Kafka-source JSON `{"topic":{"0":off}}` so
  * Structured Streaming checkpoints written through this source parse
  * with the reference's own checkpoint readers (SURVEY §1 "offset
  * maps").
  */
object KafkaSimSource {
  val WireSchema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType)))

  private val mapper = {
    val m = new ObjectMapper(); m.registerModule(DefaultScalaModule); m
  }

  /** {"topic":{"0":12,"1":3}} → Map[(topic, partition) → offset] */
  def parseOffsetJson(json: String): Map[(String, Int), Long] = {
    val tree = mapper.readTree(json)
    tree.fields().asScala.flatMap { e =>
      e.getValue.fields().asScala.map { pe =>
        (e.getKey, pe.getKey.toInt) -> pe.getValue.asLong()
      }
    }.toMap
  }

  /** `assign` option JSON — the connector's third subscription mode:
    * `{"topicA":[0,1],"topicB":[2]}` pins EXPLICIT topic-partitions
    * (no broker-side discovery). */
  def parseAssignJson(json: String): Map[String, Seq[Int]] = {
    val tree = mapper.readTree(json)
    tree.fields().asScala.map { e =>
      require(e.getValue.isArray,
        s"assign: expected an array of partition ids for topic " +
          s"${e.getKey}, got ${e.getValue}")
      val ids = e.getValue.elements().asScala.map { el =>
        // Jackson's asInt() coerces non-numeric nodes to 0, which
        // usually names a REAL partition — a typo would silently read
        // partition 0 instead of failing the plan
        require(el.isInt,
          s"assign: partition ids for topic ${e.getKey} must be " +
            s"integers, got $el")
        el.asInt()
      }.toSeq
      require(ids.distinct.size == ids.size,
        s"assign: duplicate partition ids for topic ${e.getKey}: " +
          ids.mkString("[", ",", "]") + " (a duplicate would double-read)")
      e.getKey -> ids
    }.toMap
  }

  def toOffsetJson(offsets: Map[(String, Int), Long]): String = {
    val byTopic = offsets.groupBy(_._1._1).toSeq.sortBy(_._1).map {
      case (topic, m) =>
        val parts = m.toSeq.sortBy(_._1._2)
          .map { case ((_, p), off) => s""""$p":$off""" }
          .mkString("{", ",", "}")
        s""""$topic":$parts"""
    }
    byTopic.mkString("{", ",", "}")
  }
}

class KafkaSimSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "kafkasim"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KafkaSimSource.WireSchema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new KafkaSimTable(new CaseInsensitiveStringMap(properties))

  override def supportsExternalMetadata(): Boolean = false
}

final class KafkaSimTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String =
    s"kafkasim:${options.get("path")}/${
      Option(options.get("subscribe"))
        .orElse(Option(options.get("subscribePattern"))).getOrElse("?")}"
  override def schema(): StructType = KafkaSimSource.WireSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
  // per-scan options (relation options, possibly rewritten by optimizer
  // rules like graft.plans.OffsetPushdown) take precedence; fall back
  // to the table's construction-time options for any missing key
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder = {
    import scala.jdk.CollectionConverters._
    val merged = new CaseInsensitiveStringMap(
      (options.asCaseSensitiveMap().asScala ++
        opts.asCaseSensitiveMap().asScala).asJava)
    new KafkaSimScanBuilder(merged)
  }
}

final class KafkaSimScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var prunedSchema: StructType = KafkaSimSource.WireSchema
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    prunedSchema = requiredSchema

  /** Offset-range pushdown (SURVEY §4 stretch goal — the built-in
    * Kafka connector has no such pushdown): a constant lower bound on
    * the `offset` column narrows `startingOffsets`, so the scan plans
    * per-partition ranges from the bound instead of earliest. The
    * filters are also RETURNED as residual — pushdown is advisory
    * (pure I/O reduction), Spark still applies the predicate, so a
    * missed match can never change results. */
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.sources.{EqualTo, GreaterThan, GreaterThanOrEqual}
    val bounds = filters.collect {
      case GreaterThanOrEqual("offset", v: Long) => v
      case GreaterThan("offset", v: Long) => v + 1
      case EqualTo("offset", v: Long) => v
    }
    if (bounds.nonEmpty) {
      pushed = filters.filter {
        case GreaterThanOrEqual("offset", _) | GreaterThan("offset", _) |
            EqualTo("offset", _) => true
        case _ => false
      }
      offsetLowerBound = Some(bounds.max)
    }
    filters // all residual: the source narrows I/O, Spark re-checks rows
  }

  private var offsetLowerBound: Option[Long] = None

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    pushed

  override def build(): Scan =
    new KafkaSimScan(options, prunedSchema, offsetLowerBound)
}

final class KafkaSimScan(options: CaseInsensitiveStringMap,
    prunedSchema: StructType,
    offsetLowerBound: Option[Long] = None) extends Scan {

  private val root = Option(options.get("path")).getOrElse(
    throw new IllegalArgumentException("kafkasim requires option 'path'"))
  // Kafka option parity: exactly one of `subscribe` (explicit topic
  // list), `subscribePattern` (Java regex over the broker's topics),
  // or `assign` (explicit topic-partitions as JSON — no broker-side
  // partition discovery at all). A pattern is re-matched against the
  // broker EVERY time topics are needed — batch planning once,
  // streaming once per micro-batch via latestOffset() — matching the
  // real source's per-metadata-refresh subscription, so topics
  // created after a stream starts are picked up by the next batch;
  // an assignment is FIXED for the query's lifetime, exactly the
  // connector's contract.
  private sealed trait Subscription
  private case class SubscribeList(ts: Seq[String]) extends Subscription
  private case class SubscribePattern(p: java.util.regex.Pattern)
    extends Subscription
  private case class Assigned(tps: Map[String, Seq[Int]])
    extends Subscription

  private val subscription: Subscription = {
    val given = Seq(
      Option(options.get("subscribe")).map(list => SubscribeList(
        list.split(",").map(_.trim).filter(_.nonEmpty).toSeq)),
      Option(options.get("subscribePattern")).map(re =>
        SubscribePattern(java.util.regex.Pattern.compile(re))),
      Option(options.get("assign")).map(json =>
        Assigned(KafkaSimSource.parseAssignJson(json)))).flatten
    if (given.size != 1) throw new IllegalArgumentException(
      "kafkasim requires exactly one of 'subscribe', 'subscribePattern' " +
        s"or 'assign'; got ${given.size}")
    given.head
  }

  private def topics: Seq[String] = subscription match {
    case SubscribeList(list) => list
    case SubscribePattern(p) =>
      SimBroker.listTopics(root).filter(t => p.matcher(t).matches())
    case Assigned(tps) => tps.keys.toSeq.sorted
  }

  private def subscriptionDesc: String = subscription match {
    case SubscribeList(list) => list.mkString(",")
    case SubscribePattern(p) => s"pattern:${p.pattern}"
    case Assigned(tps) => "assign:" + tps.toSeq.sortBy(_._1).map {
      case (t, ps) => s"$t[${ps.sorted.mkString(",")}]"
    }.mkString(",")
  }
  private val failOnDataLoss =
    Option(options.get("failOnDataLoss")).forall(_.toBoolean)

  // Kafka option parity: `minPartitions` splits large offset ranges
  // into multiple input partitions (1:n topic-partition → Spark
  // partition mapping, same contract as the built-in connector) so a
  // 3-partition topic can still fan out across every executor core.
  // Order within a topic-partition is preserved per-split and the
  // splits are contiguous, so a downstream sort/window sees identical
  // data; this is pure read parallelism.
  private val minPartitions: Option[Int] =
    Option(options.get("minPartitions")).map(_.toInt).filter(_ > 0)

  /** Split (tp → [from, until)) ranges so the plan has ≥ minPartitions
    * input partitions (when the total row count allows). */
  private def splitRanges(
      ranges: Seq[((String, Int), Long, Long)]): Seq[((String, Int), Long, Long)] =
    minPartitions match {
      case None => ranges
      case Some(minP) =>
        val total = ranges.map { case (_, from, until) =>
          math.max(0L, until - from) }.sum
        if (total <= 0) ranges
        else {
          // FLOOR the chunk size: chunks of ≤ total/minP rows give
          // ≥ minP splits whenever total ≥ minP (ceil would cap the
          // split count at minP and routinely undershoot it)
          val chunk = math.max(1L, total / minP)
          ranges.flatMap { case (tp, from, until) =>
            if (until <= from) Seq((tp, from, until))
            else (from until until by chunk).map(lo =>
              (tp, lo, math.min(lo + chunk, until)))
          }
        }
    }

  override def readSchema(): StructType = prunedSchema

  override def description(): String =
    s"KafkaSimV2[subscribe=$subscriptionDesc, path=$root" +
      offsetLowerBound.map(b => s", pushedOffsetLowerBound=$b").getOrElse("") + "]"

  private def allPartitions: Seq[(String, Int)] = subscription match {
    case Assigned(tps) =>
      // explicit assignment: validate against the broker ONCE here so
      // a nonexistent topic-partition fails the query loudly at plan
      // time instead of reading silently-empty ranges
      tps.toSeq.sortBy(_._1).flatMap { case (t, ps) =>
        val real = SimBroker.partitions(root, t).toSet
        ps.sorted.map { p =>
          if (!real.contains(p)) throw new IllegalArgumentException(
            s"assign: $t-$p does not exist (broker has " +
              s"${real.toSeq.sorted.mkString(",")})")
          t -> p
        }
      }
    case _ => topics.flatMap(t => SimBroker.partitions(root, t).map(t -> _))
  }

  private def resolveOffsets(spec: String, isStart: Boolean): Map[(String, Int), Long] =
    spec match {
      case "earliest" => allPartitions.map { case (t, p) =>
        (t, p) -> SimBroker.earliest(root, t, p) }.toMap
      case "latest" => allPartitions.map { case (t, p) =>
        (t, p) -> SimBroker.latest(root, t, p) }.toMap
      case json => KafkaSimSource.parseOffsetJson(json).map {
        case (tp, off) if off == -2L => tp -> SimBroker.earliest(root, tp._1, tp._2)
        case (tp, off) if off == -1L => tp -> SimBroker.latest(root, tp._1, tp._2)
        case other => other
      }
    }

  /** Clamp a requested start to the broker's earliest; the reference
    * job runs failOnDataLoss=false and relies on external monitors to
    * report the skipped range (SURVEY §2.2). */
  private def checkStart(tp: (String, Int), requested: Long): Long = {
    val e = SimBroker.earliest(root, tp._1, tp._2)
    if (requested < e) {
      if (failOnDataLoss)
        throw new IllegalStateException(
          s"Data loss detected: $tp requested offset $requested < earliest $e " +
            "(set failOnDataLoss=false to skip missing records)")
      System.err.println(
        s"[kafkasim] Some data may be lost: $tp skipping $requested -> $e")
      e
    } else requested
  }

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] = {
      val start = resolveOffsets(
        Option(options.get("startingOffsets")).getOrElse("earliest"), isStart = true)
      val end = resolveOffsets(
        Option(options.get("endingOffsets")).getOrElse("latest"), isStart = false)
      val ranges = end.toSeq.sortBy(_._1).map { case (tp, until) =>
        val resolved = checkStart(tp,
          start.getOrElse(tp, SimBroker.earliest(root, tp._1, tp._2)))
        // pushed `offset >= N` bound narrows the read range further
        val from = offsetLowerBound.fold(resolved)(math.max(resolved, _))
        (tp, from, until)
      }
      splitRanges(ranges).map { case (tp, from, until) =>
        KafkaSimInputPartition(root, tp._1, tp._2, from, until): InputPartition
      }.toArray
    }
    override def createReaderFactory(): PartitionReaderFactory =
      new KafkaSimReaderFactory(prunedSchema)
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    val maxOffsets = Option(options.get("maxOffsetsPerTrigger")).map(_.toLong)
    maxOffsets.foreach(n => require(n > 0,
      s"maxOffsetsPerTrigger must be positive, got $n")) // 0 would stall forever
    new KafkaSimMicroBatchStream(root, subscriptionDesc, prunedSchema,
      Option(options.get("startingOffsets")).getOrElse("earliest"),
      failOnDataLoss, resolveOffsets, checkStart, splitRanges, maxOffsets)
  }
}

final case class KafkaSimOffset(offsets: Map[(String, Int), Long]) extends Offset {
  override def json(): String = KafkaSimSource.toOffsetJson(offsets)
}

final class KafkaSimMicroBatchStream(root: String, subscriptionDesc: String,
    prunedSchema: StructType, startingOffsets: String, failOnDataLoss: Boolean,
    resolve: (String, Boolean) => Map[(String, Int), Long],
    checkStart: ((String, Int), Long) => Long,
    splitRanges: Seq[((String, Int), Long, Long)] => Seq[((String, Int), Long, Long)],
    maxOffsetsPerTrigger: Option[Long] = None)
  extends MicroBatchStream with SupportsAdmissionControl
  with SupportsTriggerAvailableNow {

  override def initialOffset(): Offset =
    KafkaSimOffset(resolve(startingOffsets, true))

  /** `resolve` re-derives the topic set from the scan's subscription on
    * every call, so a pattern subscription sees topics created after
    * the stream started — per micro-batch, like the real source. */
  override def latestOffset(): Offset = KafkaSimOffset(resolve("latest", false))

  // ---- admission control (Kafka option parity: maxOffsetsPerTrigger).
  // The engine calls latestOffset(start, limit) when the stream
  // implements SupportsAdmissionControl; with no option set the limit
  // is allAvailable() and behavior is identical to the plain path.
  // SupportsTriggerAvailableNow (also like the real source): under
  // Trigger.AvailableNow the target is CAPTURED once at query start
  // and each rate-limited batch advances toward it, so the trigger
  // still terminates even while new data keeps arriving.

  @volatile private var availableNowTarget: Option[Map[(String, Int), Long]] =
    None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(resolve("latest", false))

  override def getDefaultReadLimit: ReadLimit =
    maxOffsetsPerTrigger.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())

  override def reportLatestOffset(): Offset =
    KafkaSimOffset(resolve("latest", false))

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val startMap = start.asInstanceOf[KafkaSimOffset].offsets
    val latest = availableNowTarget.getOrElse(resolve("latest", false))
    limit match {
      case r: ReadMaxRows =>
        KafkaSimOffset(rateLimit(r.maxRows(), startMap, latest,
          resolve("earliest", true)))
      case _ => KafkaSimOffset(latest)
    }
  }

  /** Prorate `max` rows across partitions by their share of total lag
    * (the built-in Kafka source's rate-limit policy): partitions with
    * more backlog get proportionally more of the batch budget.
    * Sub-1 shares round UP (also the built-in's behavior) so every
    * lagging partition advances each batch — flooring them to 0 would
    * stall the stream whenever max < the number of lagging partitions.
    * A partition absent from the start map (e.g. newly matched by a
    * pattern) begins at its EARLIEST offset, not 0 — expired history
    * must not count as lag or the capped end could land below
    * earliest and read as spurious data loss. */
  private def rateLimit(max: Long, start: Map[(String, Int), Long],
      latest: Map[(String, Int), Long],
      earliest: Map[(String, Int), Long]): Map[(String, Int), Long] = {
    def beginOf(tp: (String, Int)): Long = {
      val e = earliest.getOrElse(tp, 0L)
      math.max(start.getOrElse(tp, e), e)
    }
    val lags = latest.map { case (tp, end) =>
      tp -> math.max(0L, end - beginOf(tp)) }
    val total = lags.values.sum
    if (total <= max) latest
    else latest.map { case (tp, end) =>
      val prorate = max.toDouble * lags(tp) / total
      val share =
        if (prorate < 1) math.ceil(prorate).toLong else prorate.toLong
      tp -> math.min(end, beginOf(tp) + share)
    }
  }

  override def deserializeOffset(json: String): Offset =
    KafkaSimOffset(KafkaSimSource.parseOffsetJson(json))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[KafkaSimOffset].offsets
    val e = end.asInstanceOf[KafkaSimOffset].offsets
    val ranges = e.toSeq.sortBy(_._1).map { case (tp, until) =>
      (tp, checkStart(tp, s.getOrElse(tp, 0L)), until)
    }
    splitRanges(ranges).map { case (tp, from, until) =>
      KafkaSimInputPartition(root, tp._1, tp._2, from, until): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new KafkaSimReaderFactory(prunedSchema)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  /** Shows up as SourceProgress.description — the reference's listener
    * filters Kafka sources by description (DataLossMonitor.java:40);
    * ours filters on this marker the same way. */
  override def toString: String =
    s"KafkaSimV2[subscribe=$subscriptionDesc, path=$root]"
}

final case class KafkaSimInputPartition(root: String, topic: String,
    partition: Int, from: Long, until: Long) extends InputPartition

final class KafkaSimReaderFactory(prunedSchema: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[KafkaSimInputPartition]
    new KafkaSimPartitionReader(p, prunedSchema)
  }
}

final class KafkaSimPartitionReader(p: KafkaSimInputPartition,
    prunedSchema: StructType) extends PartitionReader[InternalRow] {

  private val it = SimBroker.read(p.root, p.topic, p.partition, p.from, p.until)
  private var current: SimBroker.SimRecord = _

  // column extractors fixed once per reader — no per-row name lookups
  private val extractors: Array[SimBroker.SimRecord => Any] =
    prunedSchema.fields.map(f => f.name match {
      case "key"       => (r: SimBroker.SimRecord) => r.key
      case "value"     => (r: SimBroker.SimRecord) => r.value
      case "topic"     => (_: SimBroker.SimRecord) => UTF8String.fromString(p.topic)
      case "partition" => (r: SimBroker.SimRecord) => r.partition
      case "offset"    => (r: SimBroker.SimRecord) => r.offset
      case "timestamp" => (r: SimBroker.SimRecord) => r.timestampMs * 1000L
      case "timestampType" => (_: SimBroker.SimRecord) => 0
      case other => throw new IllegalArgumentException(s"unknown column $other")
    })

  // one row reused for every record, as the built-in Kafka reader does:
  // the scan's consumer projects each row before asking for the next
  private val row = new GenericInternalRow(extractors.length)

  override def next(): Boolean =
    if (it.hasNext) { current = it.next(); true } else false

  override def get(): InternalRow = {
    var i = 0
    while (i < extractors.length) { row.update(i, extractors(i)(current)); i += 1 }
    row
  }

  override def close(): Unit = it.close()
}
