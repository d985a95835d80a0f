package graft.sources

import java.util
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, IsNotNull}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 for the reference's external-REST weather source
  * (/root/reference/weather.py:31-85), fed by canned Open-Meteo-shaped
  * JSON payload files — the build env is zero-egress, so "the server" is
  * a directory of fixture payloads (FIXTURES.md §A).
  *
  * The reference pushes work to the server through URL parameters; this
  * source mirrors each of those as a DSv2 pushdown, so Catalyst's
  * V2ScanRelationPushDown produces the same effect:
  *
  *  - `count=1` (weather.py:45)            -> SupportsPushDownLimit
  *  - `name=&country=` (weather.py:45-46)  -> SupportsPushDownFilters
  *  - `current=temperature_2m,weather_code&daily=...` (weather.py:66-67)
  *                                         -> SupportsPushDownRequiredColumns
  *
  * Endpoints (option "endpoint"):
  *  - "geocode":  results[] flattened to rows
  *                (name, country_code, latitude, longitude, admin1)
  *  - "forecast": one row per payload
  *                (latitude, longitude, current struct, daily struct)
  *
  * Streaming: `toMicroBatchStream` emits ONE payload file per
  * micro-batch in path order — the 10-minute fetch tick of
  * weather.py:324-333 under Structured Streaming's trigger model.
  * A payload `{"error": ...}` makes the reader throw, mirroring the
  * non-200 RuntimeError of weather.py:34-35 (callers handle it like the
  * reference's per-tick catch, see graft.streaming.WeatherPipeline).
  */
class WeatherJsonSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "weather-json"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WeatherJsonSource.schemaFor(options.get("endpoint"))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new WeatherTable(schema, properties.asScala.toMap)
}

object WeatherJsonSource {
  val GeocodeSchema: StructType = StructType(Seq(
    StructField("name", StringType),
    StructField("country_code", StringType),
    StructField("latitude", DoubleType),
    StructField("longitude", DoubleType),
    StructField("admin1", StringType)))

  val ForecastSchema: StructType = StructType(Seq(
    StructField("latitude", DoubleType),
    StructField("longitude", DoubleType),
    StructField("current", StructType(Seq(
      StructField("temperature_2m", DoubleType),
      StructField("weather_code", IntegerType),
      StructField("time", StringType)))),
    StructField("daily", StructType(Seq(
      StructField("precipitation_probability_max", ArrayType(IntegerType)))))))

  def schemaFor(endpoint: String): StructType =
    if (endpoint == "geocode") GeocodeSchema else ForecastSchema

  def paths(options: Map[String, String]): Seq[String] =
    options.getOrElse("path",
      throw new IllegalArgumentException("weather-json requires 'path'"))
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
}

class WeatherTable(tableSchema: StructType, options: Map[String, String])
    extends Table with SupportsRead {
  override def name(): String =
    s"weather-json:${options.getOrElse("endpoint", "forecast")}"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new WeatherScanBuilder(tableSchema,
      options ++ o.asCaseSensitiveMap().asScala)
}

/** Records what Catalyst pushed; the readers honor it. */
class WeatherScanBuilder(fullSchema: StructType, options: Map[String, String])
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownLimit {

  private var prunedSchema: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var limit: Int = -1

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // keep only requested top-level fields (the URL field-list analogue)
    val keep = requiredSchema.fieldNames.toSet
    prunedSchema = StructType(fullSchema.fields.filter(f => keep(f.name)))
  }

  // The geocode "server" filters name/country server-side; everything
  // else is returned to Spark for post-scan evaluation. IsNotNull is
  // accepted too (and honored by the reader) so no residual filter is
  // left to block LimitPushDown into the scan.
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ok, rest) = filters.partition {
      case EqualTo(a, _) => a == "name" || a == "country_code"
      case IsNotNull(a) => a == "name" || a == "country_code"
      case _ => false
    }
    pushed = ok
    rest
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pushLimit(l: Int): Boolean = { limit = l; true }

  override def build(): Scan =
    new WeatherScan(prunedSchema, options, pushed, limit)
}

class WeatherScan(schema: StructType, options: Map[String, String],
    filters: Array[Filter], limit: Int) extends Scan with Batch {
  private val files = WeatherJsonSource.paths(options)
  private val endpoint = options.getOrElse("endpoint", "forecast")
  private val eqFilters: Map[String, String] =
    filters.collect { case EqualTo(a, v) => a -> String.valueOf(v) }.toMap
  private val notNullCols: Seq[String] =
    filters.collect { case IsNotNull(a) => a }.toSeq

  override def readSchema(): StructType = schema
  override def description(): String =
    s"weather-json endpoint=$endpoint PushedFilters=${filters.mkString("[", ",", "]")} " +
      s"PushedLimit=${if (limit >= 0) limit else "none"} " +
      s"ReadSchema=${schema.fieldNames.mkString(",")}"

  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    files.map(f =>
      WeatherPartition(f, endpoint, schema.json, eqFilters, notNullCols,
        limit): InputPartition)
      .toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new WeatherReaderFactory

  override def toMicroBatchStream(checkpoint: String): MicroBatchStream =
    new WeatherMicroBatchStream(files, endpoint, schema, eqFilters,
      notNullCols, limit)
}

case class WeatherPartition(path: String, endpoint: String,
    schemaJson: String, eqFilters: Map[String, String],
    notNullCols: Seq[String], limit: Int)
  extends InputPartition

class WeatherReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val wp = p.asInstanceOf[WeatherPartition]
    new WeatherPartitionReader(wp)
  }
}

/** Parses one payload file into rows of the pruned schema, applying
  * pushed equality filters and the pushed limit. */
class WeatherPartitionReader(p: WeatherPartition)
    extends PartitionReader[InternalRow] {

  private val schema = DataType.fromJson(p.schemaJson).asInstanceOf[StructType]
  private val rows: Iterator[InternalRow] = {
    val text = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p.path)),
      java.nio.charset.StandardCharsets.UTF_8)
    val mapper = new ObjectMapper()
    val root = mapper.readValue(text, classOf[util.Map[String, Object]])
      .asScala.toMap
    if (root.contains("error"))
      throw new RuntimeException(s"HTTP ${root.getOrElse("status", 500)}: " +
        s"${root.getOrElse("reason", "error")}") // weather.py:34-35
    val records: Seq[Map[String, Object]] = p.endpoint match {
      case "geocode" =>
        root.get("results") match {
          case Some(l: util.List[_]) => l.asScala.toSeq.map(
            _.asInstanceOf[util.Map[String, Object]].asScala.toMap)
          case _ => Seq.empty // missing results -> empty relation
        }
      case _ => Seq(root)
    }
    val filtered = records.filter { r =>
      p.eqFilters.forall { case (k, v) =>
        r.get(k).exists(x => String.valueOf(x) == v)
      } && p.notNullCols.forall(k => r.get(k).orNull != null)
    }
    val limited =
      if (p.limit >= 0) filtered.take(p.limit) else filtered
    limited.iterator.map(r => WeatherPartitionReader.toRow(schema, r))
  }

  private var cur: InternalRow = _
  override def next(): Boolean =
    if (rows.hasNext) { cur = rows.next(); true } else false
  override def get(): InternalRow = cur
  override def close(): Unit = ()
}

object WeatherPartitionReader {
  /** Recursive Map -> InternalRow per (possibly pruned) schema, with
    * `.get(key, default)`-style null defaults (weather.py:73-83). */
  def toRow(schema: StructType, m: Map[String, Object]): InternalRow = {
    val values = schema.fields.map(f => toValue(f.dataType, m.get(f.name).orNull))
    new GenericInternalRow(values.asInstanceOf[Array[Any]])
  }

  private def toValue(dt: DataType, v: Object): Any = v match {
    case null => null
    case _ => dt match {
      case StringType => UTF8String.fromString(String.valueOf(v))
      case DoubleType => v match {
        case n: Number => n.doubleValue()
        case s: String => s.toDouble // stringly-typed JSON, weather.py:55-56
      }
      case IntegerType => v match {
        case n: Number => n.intValue()
        case s: String => s.toInt
      }
      case st: StructType =>
        toRow(st, v.asInstanceOf[util.Map[String, Object]].asScala.toMap)
      case ArrayType(et, _) =>
        new GenericArrayData(
          v.asInstanceOf[util.List[Object]].asScala.map(toValue(et, _)).toArray)
      case other =>
        throw new IllegalArgumentException(s"unsupported type $other")
    }
  }
}

/** One payload file per micro-batch, in path order — each trigger is one
  * "fetch tick" of the reference's refresh loop (weather.py:324-333). */
case class WeatherOffset(index: Long) extends Offset {
  override def json(): String = index.toString
}

class WeatherMicroBatchStream(files: Seq[String], endpoint: String,
    schema: StructType, eqFilters: Map[String, String],
    notNullCols: Seq[String], limit: Int)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  override def prepareForTriggerAvailableNow(): Unit = ()
  override def initialOffset(): Offset = WeatherOffset(0)
  override def deserializeOffset(json: String): Offset =
    WeatherOffset(json.toLong)

  // Admission control: advance exactly one payload file per micro-batch
  // (one fetch tick per trigger, weather.py:324-333).
  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    WeatherOffset(
      math.min(start.asInstanceOf[WeatherOffset].index + 1, files.size.toLong))
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "admission-control latestOffset(start, limit) is used")
  override def commit(end: Offset): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[WeatherOffset].index.toInt
    val e = end.asInstanceOf[WeatherOffset].index.toInt
    // accepted pushdowns (eq AND not-null) apply to streaming reads the
    // same as batch: pushFilters consumed them, so nothing else will
    // re-check them post-scan
    files.slice(s, e).map(f =>
      WeatherPartition(f, endpoint, schema.json, eqFilters, notNullCols,
        limit): InputPartition)
      .toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new WeatherReaderFactory
  override def stop(): Unit = ()
}
