package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** OTLP-over-Arrow LOG transport — the otel-arrow fork's namesake
  * wire format for the logs signal (reference behavior, not code:
  * receiver/otlpreceiver/internal/arrow/arrow.go:251-260 decodes
  * BatchArrowRecords whose `record` field is an Arrow IPC stream;
  * exporter/otlpexporter/internal/arrow/stream.go encodes the same
  * going out). The schema-generic engine lives in [[ArrowIpc]]; spans
  * and metrics use it directly via stream{Spans,Metrics}Spool.
  *
  * graft's processing representation is already columnar
  * (Tungsten/Parquet), so "OTLP-over-Arrow support" here means the
  * WIRE seam: spooled Arrow IPC record batches — the BatchArrowRecords
  * payload minus the gRPC framing, exactly as the pb receivers consume
  * Export*ServiceRequest files minus their HTTP framing — decode into
  * the same flattened log rows [[OtlpJsonSource.parseLogs]] produces,
  * and flattened rows encode back out as Arrow IPC spool files. A
  * migrating otel-arrow user points their Arrow stream at a spool
  * directory and both directions just work.
  *
  * Layout note vs the reference: OTAP splits a signal across multiple
  * related record batches (logs + attrs tables keyed by parent ids)
  * to maximize dictionary/delta compression on the wire. Here one
  * batch carries the flattened record with map-typed attribute
  * columns — Arrow expresses that natively, Parquet/zstd provides the
  * at-rest compression, and no id re-join is needed at ingest. The
  * seam (IPC stream in, IPC stream out) is the compatible part;
  * a bit-level OTAP schema twin would buy nothing on the Spark side.
  */
object ArrowLogsIpc {

  /** the flattened log row ([[OtlpJsonSource.parseLogs]] column order);
    * boxed numerics so wire-absent fields stay null through the round
    * trip instead of collapsing to 0 */
  final case class ArrowFlatLog(
      time_unix_nano: java.lang.Long,
      observed_time_unix_nano: java.lang.Long,
      severity_number: java.lang.Integer,
      severity_text: String,
      body: String,
      attributes: Map[String, String],
      flags: java.lang.Integer,
      dropped_attributes_count: java.lang.Integer,
      trace_id: String,
      span_id: String,
      resource_attributes: Map[String, String],
      scope_name: String)

  /** Arrow IPC spool EXPORTER for flattened logs (column order pinned
    * to the parseLogs contract) */
  def spool(logs: DataFrame, dir: String, maxPerFile: Int = 4096,
            dictCap: Int = 0, codec: String = "none"): Unit = {
    val names = ArrowIpc.logsSchema(logs.sparkSession).fieldNames.toSeq
    ArrowIpc.spool(logs.select(names.map(col): _*), dir, maxPerFile, dictCap, codec)
  }

  /** binary IPC payload column → flattened log rows (the pb receivers'
    * `parseLogsPb` twin for the Arrow encoding) */
  def parseLogsArrow(payloads: DataFrame): DataFrame =
    ArrowIpc.parse(payloads, ArrowIpc.logsSchema(payloads.sparkSession))

  /** batch receiver: read a spool directory of .arrow files */
  def readSpool(spark: SparkSession, dir: String): DataFrame =
    ArrowIpc.readSpool(spark, dir, ArrowIpc.logsSchema(spark))

  /** streaming receiver: tail the spool directory (the arrow.go
    * receive loop minus gRPC framing) */
  def streamSpool(spark: SparkSession, dir: String,
                  maxFilesPerTrigger: Option[Int] = None): DataFrame =
    ArrowIpc.streamLogsSpool(spark, dir, maxFilesPerTrigger)
}
