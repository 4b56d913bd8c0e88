package graft.sources

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.{BigIntVector, BitVector, FieldVector, Float8Vector, IntVector, VarCharVector, VectorSchemaRoot}
import org.apache.arrow.vector.complex.MapVector
import org.apache.arrow.vector.complex.writer.BaseWriter.MapWriter
import org.apache.arrow.vector.ipc.{ArrowStreamReader, ArrowStreamWriter}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema-driven Arrow IPC codec for the flattened telemetry models —
  * the generic engine behind [[ArrowLogsIpc]] and the span/metric
  * Arrow seams (reference behavior, not code:
  * receiver/otlpreceiver/internal/arrow/arrow.go:251-260,
  * exporter/otlpexporter/internal/arrow/stream.go — one IPC record
  * batch stream per BatchArrowRecords payload, all three signals).
  *
  * Supported column kinds are exactly what the flattened models use:
  * long, int, double, boolean, string, map<string,string>. Encoding
  * is driven by the DataFrame's own schema; decoding validates
  * against the expected flattened contract, so the wire seam can
  * never silently diverge from what parseLogs/parseSpans/
  * parseMetricPoints produce.
  *
  * Scale: encode/decode run per executor partition (foreachPartition /
  * flatMap) — no driver funnel; spool files land via the Hadoop FS
  * API so the seam works on any cluster filesystem.
  */
object ArrowIpc {

  // ---- generic encode ----------------------------------------------

  /** map<varchar,varchar> vector with its entries struct declared
    * non-nullable up front — writer-lazy child creation can mark the
    * struct nullable (e.g. when the first row writes a NULL map),
    * which Arrow's Map validation then rejects at serialization */
  private def newMapVector(name: String, alloc: RootAllocator): MapVector = {
    import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType}
    val entries = new Field(MapVector.DATA_VECTOR_NAME,
      new FieldType(false, ArrowType.Struct.INSTANCE, null),
      Seq(
        new Field(MapVector.KEY_NAME,
          new FieldType(false, new ArrowType.Utf8, null), null),
        new Field(MapVector.VALUE_NAME,
          new FieldType(true, new ArrowType.Utf8, null), null)).asJava)
    val mapField = new Field(name,
      new FieldType(true, new ArrowType.Map(false), null), Seq(entries).asJava)
    mapField.createVector(alloc).asInstanceOf[MapVector]
  }

  private def newVector(f: StructField, alloc: RootAllocator): FieldVector =
    f.dataType match {
      case LongType    => new BigIntVector(f.name, alloc)
      case IntegerType => new IntVector(f.name, alloc)
      case DoubleType  => new Float8Vector(f.name, alloc)
      case BooleanType => new BitVector(f.name, alloc)
      case StringType  => new VarCharVector(f.name, alloc)
      case MapType(StringType, StringType, _) => newMapVector(f.name, alloc)
      case dt => throw new IllegalArgumentException(
        s"column '${f.name}': $dt has no Arrow-spool mapping " +
          "(flattened models carry scalars and map<string,string> only)")
    }

  private def writeText(w: org.apache.arrow.vector.complex.writer.VarCharWriter,
                        s: String, alloc: RootAllocator): Unit = {
    val bytes = s.getBytes(UTF_8)
    val buf = alloc.buffer(math.max(bytes.length, 1).toLong)
    try { buf.setBytes(0, bytes); w.writeVarChar(0, bytes.length, buf) }
    finally buf.close()
  }

  private def writeMap(w: MapWriter, m: Map[String, String],
                       alloc: RootAllocator): Unit = {
    w.startMap()
    // deterministic entry order — byte-stable payloads for identical rows
    m.toSeq.sortBy(_._1).foreach { case (k, v) =>
      w.startEntry()
      writeText(w.key().varChar(), k, alloc)
      if (v != null) writeText(w.value().varChar(), v, alloc)
      w.endEntry()
    }
    w.endMap()
  }

  /** Encode rows (in `schema` order) as ONE record batch in an Arrow
    * IPC stream. Callers chunk (the spool writer caps rows per file) —
    * a single batch per stream keeps the writer trivially correct; the
    * READER accepts any number of batches per stream, as otel-arrow
    * producers send them. */
  def encodeRows(schema: StructType, rows: Seq[Row]): Array[Byte] =
    encodeRows(schema, rows, dictCap = 0)

  def encodeRows(schema: StructType, rows: Seq[Row], dictCap: Int): Array[Byte] =
    encodeRows(schema, rows, dictCap, batchRows = 0, codec = "none")

  /** [[encodeRows]] with the otel-arrow stream's compression tricks
    * (reference behavior, not code:
    * exporter/otlpexporter/internal/arrow/stream.go):
    *
    *  - `dictCap` — dictionary-encoded attribute columns with
    *    overflow fallback: a string column whose STREAM-WIDE distinct
    *    count stays within the cap ships as int32 indices plus one
    *    dictionary batch shared by every record batch in the stream
    *    (the long-lived-stream dictionary shape); a column that
    *    overflows falls back to plain utf8 for this stream. Each
    *    spool file is its own stream with its own per-column
    *    decision, so "schema reset on overflow" is a per-file
    *    property a reader sees in field metadata, never by
    *    convention. 0 disables. map<string,string> children stay
    *    plain: the parquet sink both spool ends use already
    *    dictionary-encodes key/value pages — the wire win is the
    *    flat attribute columns.
    *  - `batchRows` — multiple record batches per stream (what a
    *    long-lived gRPC stream sends): one schema header, one
    *    dictionary, N batches. 0 = single batch.
    *  - `codec` — IPC buffer compression ("zstd" | "lz4" | "none"),
    *    the transport-compression knob of the Arrow exporter; decode
    *    auto-detects from the buffer headers.
    */
  def encodeRows(schema: StructType, rows: Seq[Row], dictCap: Int,
                 batchRows: Int, codec: String): Array[Byte] = {
    import org.apache.arrow.compression.CommonsCompressionFactory
    import org.apache.arrow.vector.compression.CompressionUtil
    import org.apache.arrow.vector.dictionary.{Dictionary, DictionaryProvider}
    import org.apache.arrow.vector.ipc.message.IpcOption
    import org.apache.arrow.vector.types.pojo.{ArrowType, DictionaryEncoding, Field, FieldType}
    val idx = rows.toIndexedSeq
    val n = idx.length
    val alloc = new RootAllocator()
    try {
      // dictionary plan: distinct scan per string column with an
      // overflow short-circuit, BEFORE any vector is built
      val dictIndex: Map[Int, (IndexedSeq[String], java.util.HashMap[String, Integer])] =
        if (dictCap <= 0) Map.empty
        else schema.fields.toSeq.zipWithIndex.flatMap {
          case (f, ci) if f.dataType == StringType =>
            val distinct = scala.collection.mutable.SortedSet.empty[String]
            var fits = true
            val it = idx.iterator
            while (it.hasNext && fits) {
              val x = it.next().get(ci)
              if (x != null) {
                distinct += x.asInstanceOf[String]
                if (distinct.size > dictCap) fits = false
              }
            }
            if (!fits || distinct.isEmpty) None
            else {
              val values = distinct.toIndexedSeq
              val m = new java.util.HashMap[String, Integer]()
              values.zipWithIndex.foreach { case (s, j) => m.put(s, j) }
              Some(ci -> (values, m))
            }
          case _ => None
        }.toMap
      val provider = new DictionaryProvider.MapDictionaryProvider()
      val dictVecs = scala.collection.mutable.ArrayBuffer.empty[FieldVector]
      val vecs: Seq[FieldVector] = schema.fields.toSeq.zipWithIndex.map { case (f, ci) =>
        dictIndex.get(ci) match {
          case Some((values, _)) =>
            val dv = new VarCharVector(s"${f.name}__dict", alloc)
            dv.setInitialCapacity(values.length)
            values.zipWithIndex.foreach { case (s, j) => dv.setSafe(j, s.getBytes(UTF_8)) }
            dv.setValueCount(values.length)
            val enc = new DictionaryEncoding(ci.toLong, false, new ArrowType.Int(32, true))
            provider.put(new Dictionary(dv, enc))
            dictVecs += dv
            new Field(f.name, new FieldType(true, new ArrowType.Int(32, true), enc), null)
              .createVector(alloc)
          case None => newVector(f, alloc)
        }
      }
      try {
        val root = new VectorSchemaRoot(vecs.asJava)
        val out = new java.io.ByteArrayOutputStream()
        val ch = java.nio.channels.Channels.newChannel(out)
        val w = codec match {
          case "none" | null => new ArrowStreamWriter(root, provider, ch)
          case c =>
            val codecType = c match {
              case "zstd" => CompressionUtil.CodecType.ZSTD
              case "lz4"  => CompressionUtil.CodecType.LZ4_FRAME
              case other => throw new IllegalArgumentException(
                s"unknown arrow codec '$other' (zstd | lz4 | none)")
            }
            new ArrowStreamWriter(root, provider, ch, IpcOption.DEFAULT,
              CommonsCompressionFactory.INSTANCE, codecType)
        }
        try {
          w.start()
          if (n == 0) { root.setRowCount(0); w.writeBatch() }
          else {
            val step = if (batchRows > 0) batchRows else n
            var off = 0
            while (off < n) {
              val hi = math.min(off + step, n)
              fillBatch(vecs, idx, off, hi, dictIndex, alloc)
              root.setRowCount(hi - off)
              w.writeBatch()
              off = hi
            }
          }
          w.end()
        } finally w.close()
        out.toByteArray
      } finally { vecs.foreach(_.close()); dictVecs.foreach(_.close()) }
    } finally alloc.close()
  }

  /** populate the reusable batch vectors with rows [lo, hi) */
  private def fillBatch(vecs: Seq[FieldVector], rows: IndexedSeq[Row],
                        lo: Int, hi: Int,
                        dictIndex: Map[Int, (IndexedSeq[String], java.util.HashMap[String, Integer])],
                        alloc: RootAllocator): Unit = {
    val m = hi - lo
    vecs.foreach { v => v.reset(); v.setInitialCapacity(m) }
    val mapWriters: Map[Int, org.apache.arrow.vector.complex.impl.UnionMapWriter] =
      vecs.zipWithIndex.collect {
        case (mv: MapVector, i) => i -> mv.getWriter
      }.toMap
    var r = lo
    while (r < hi) {
      val row = rows(r)
      val rowIdx = r - lo
      var ci = 0
      while (ci < vecs.length) {
        val v = vecs(ci)
        val x = row.get(ci)
        dictIndex.get(ci) match {
          case Some((_, lookup)) =>
            val iv = v.asInstanceOf[IntVector]
            if (x == null) iv.setNull(rowIdx)
            else iv.setSafe(rowIdx, lookup.get(x.asInstanceOf[String]).intValue())
          case None => v match {
            case bv: BigIntVector =>
              if (x == null) bv.setNull(rowIdx) else bv.setSafe(rowIdx, x.asInstanceOf[Long])
            case iv: IntVector =>
              if (x == null) iv.setNull(rowIdx) else iv.setSafe(rowIdx, x.asInstanceOf[Int])
            case dv: Float8Vector =>
              if (x == null) dv.setNull(rowIdx) else dv.setSafe(rowIdx, x.asInstanceOf[Double])
            case bitv: BitVector =>
              if (x == null) bitv.setNull(rowIdx)
              else bitv.setSafe(rowIdx, if (x.asInstanceOf[Boolean]) 1 else 0)
            case sv: VarCharVector =>
              if (x == null) sv.setNull(rowIdx)
              else sv.setSafe(rowIdx, x.asInstanceOf[String].getBytes(UTF_8))
            case _: MapVector =>
              val w = mapWriters(ci)
              w.setPosition(rowIdx)
              if (x == null) w.writeNull()
              else writeMap(w, row.getMap[String, String](ci).toMap, alloc)
            case other => throw new IllegalStateException(other.getClass.getName)
          }
        }
        ci += 1
      }
      r += 1
    }
    vecs.foreach(_.setValueCount(m))
  }

  // ---- generic decode ----------------------------------------------

  /** decode every record batch of an IPC stream into rows of `schema`
    * (materialized so the off-heap allocator closes before returning) */
  def decodeRows(schema: StructType, bytes: Array[Byte]): Seq[Row] = {
    val alloc = new RootAllocator()
    val out = scala.collection.mutable.ArrayBuffer.empty[Row]
    // the compression factory recognizes uncompressed, zstd, and lz4
    // buffers from their headers — one reader for every spool flavor
    val reader = new ArrowStreamReader(new ByteArrayInputStream(bytes), alloc,
      org.apache.arrow.compression.CommonsCompressionFactory.INSTANCE)
    try {
      readerRows(reader, schema, out)
      out.toSeq
    } finally { reader.close(); alloc.close() }
  }

  /** decode a byte sequence that may carry SEVERAL back-to-back IPC
    * streams — the shape a long-lived delta-dictionary stream takes
    * after a schema reset ([[DeltaStreamEncoder]]): EOS ends the old
    * stream and a fresh schema message starts the next one. Delta
    * dictionary batches WITHIN a stream are handled by the Arrow
    * reader itself (it appends them to the live dictionary). */
  def decodeRowsMulti(schema: StructType, bytes: Array[Byte]): Seq[Row] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Row]
    val in = new ByteArrayInputStream(bytes)
    while (in.available() > 0) {
      val alloc = new RootAllocator()
      val reader = new ArrowStreamReader(in, alloc,
        org.apache.arrow.compression.CommonsCompressionFactory.INSTANCE)
      // close(false) keeps the shared InputStream open for the next
      // stream segment
      try readerRows(reader, schema, out)
      finally { reader.close(false); alloc.close() }
    }
    out.toSeq
  }

  private def readerRows(reader: ArrowStreamReader, schema: StructType,
                         out: scala.collection.mutable.ArrayBuffer[Row]): Unit = {
    {
      val root = reader.getVectorSchemaRoot
      while (reader.loadNextBatch()) {
        val n = root.getRowCount
        val vecs = schema.fields.map { f =>
          val v = root.getVector(f.name)
          require(v != null, s"Arrow payload is missing column '${f.name}'")
          v
        }
        var i = 0
        while (i < n) {
          val vals = new Array[Any](vecs.length)
          var c = 0
          while (c < vecs.length) {
            // dispatch on the EXPECTED Spark type, not the concrete
            // vector class: a type-drifted (but structurally valid)
            // payload must fail HERE — inside decodeTry's reach, so
            // the DLQ path catches it — never later in the row
            // encoder where it would kill the whole query
            def typeError(): Nothing = throw new IllegalArgumentException(
              s"column '${schema.fields(c).name}': Arrow payload carries " +
                s"${vecs(c).getClass.getSimpleName}, expected " +
                s"${schema.fields(c).dataType.simpleString}")
            vals(c) = (schema.fields(c).dataType, vecs(c)) match {
              case (LongType, bv: BigIntVector) => if (bv.isNull(i)) null else bv.get(i)
              // dict-encoded string column: the field metadata names
              // its dictionary; resolve index → utf8 from the stream's
              // dictionary batch (plain and dict files interleave
              // freely in one spool — the decision is per-stream)
              case (StringType, iv: IntVector) if iv.getField.getDictionary != null =>
                if (iv.isNull(i)) null
                else {
                  val d = reader.getDictionaryVectors.get(iv.getField.getDictionary.getId)
                  require(d != null, s"column '${schema.fields(c).name}': " +
                    "dictionary-encoded field but the stream carries no dictionary batch")
                  new String(d.getVector.asInstanceOf[VarCharVector].get(iv.get(i)), UTF_8)
                }
              case (IntegerType, iv: IntVector) => if (iv.isNull(i)) null else iv.get(i)
              case (DoubleType, dv: Float8Vector) => if (dv.isNull(i)) null else dv.get(i)
              case (BooleanType, bitv: BitVector) => if (bitv.isNull(i)) null else bitv.get(i) == 1
              case (StringType, sv: VarCharVector) => if (sv.isNull(i)) null else new String(sv.get(i), UTF_8)
              case (MapType(StringType, StringType, _), mv: MapVector) =>
                if (mv.isNull(i)) null
                else mv.getObject(i).asInstanceOf[java.util.List[_]].asScala.map { e =>
                  val entry = e.asInstanceOf[java.util.Map[_, _]]
                  String.valueOf(entry.get(MapVector.KEY_NAME)) ->
                    Option(entry.get(MapVector.VALUE_NAME)).map(String.valueOf).orNull
                }.toMap
              case _ => typeError()
            }
            c += 1
          }
          out += Row.fromSeq(vals.toIndexedSeq)
          i += 1
        }
      }
    }
  }

  // ---- long-lived streams: delta dictionaries ----------------------

  /** Long-lived multi-batch IPC stream encoder with dictionary
    * DELTAS and schema-reset-on-overflow — the namesake transport's
    * memory/ratio story at long stream lifetimes (reference behavior:
    * receiver/otlpreceiver/internal/arrow/arrow.go:269-300 and the
    * exporter's stream.go keep one gRPC stream alive across many
    * batches, growing dictionaries by delta messages and resetting
    * the schema when a dictionary overflows).
    *
    * Usage: one encoder per stream; each [[writeBatch]] returns the
    * IPC bytes to append to the wire for that batch —
    *
    *  - first batch: schema message + one full dictionary batch per
    *    dictionary-encoded string column + the record batch
    *  - later batches: one DELTA dictionary batch per column that saw
    *    NEW values (only the new entries travel — never the
    *    accumulated dictionary) + the record batch
    *  - a column whose accumulated dictionary would exceed `dictCap`
    *    triggers the reference's fallback: the stream ends (EOS) and
    *    a NEW stream starts in-line whose schema carries that column
    *    as plain utf8 (surviving columns keep their accumulated
    *    dictionaries, re-sent full once) — a reader sees the reset in
    *    the schema message, never by convention
    *  - [[end]] closes the stream (EOS)
    *
    * Decode with [[decodeRowsMulti]]: the Arrow reader applies delta
    * batches natively (VectorBatchAppender), and the multi-stream
    * loop handles resets. Index assignment is append-only, so record
    * batches decoded before a delta arrived are unaffected by it.
    */
  final class DeltaStreamEncoder(schema: StructType, dictCap: Int) {
    import org.apache.arrow.vector.VectorUnloader
    import org.apache.arrow.vector.ipc.WriteChannel
    import org.apache.arrow.vector.ipc.message.{ArrowDictionaryBatch, IpcOption, MessageSerializer}
    import org.apache.arrow.vector.types.pojo.{ArrowType, DictionaryEncoding, Field, FieldType, Schema => ASchema}
    require(dictCap > 0, "DeltaStreamEncoder needs dictCap > 0 (plain streams: encodeRows)")

    private val alloc = new RootAllocator()
    // accumulated dictionary per column (values in index order + lookup)
    private val dictValues = scala.collection.mutable.Map.empty[Int, scala.collection.mutable.ArrayBuffer[String]]
    private val dictLookup = scala.collection.mutable.Map.empty[Int, java.util.HashMap[String, Integer]]
    private val plainCols = scala.collection.mutable.Set.empty[Int]
    private var started = false
    private var vecs: Seq[FieldVector] = Nil
    private var root: VectorSchemaRoot = null
    private var closed = false
    /** streams emitted so far (1 + number of schema resets) */
    def streamCount: Int = resets + (if (started) 1 else 0)
    private var resets = 0

    schema.fields.zipWithIndex.foreach { case (f, ci) =>
      if (f.dataType == StringType) {
        dictValues(ci) = scala.collection.mutable.ArrayBuffer.empty[String]
        dictLookup(ci) = new java.util.HashMap[String, Integer]()
      } else plainCols += ci
    }

    private def isDictCol(ci: Int): Boolean = !plainCols.contains(ci)

    private def encoding(ci: Int): DictionaryEncoding =
      new DictionaryEncoding(ci.toLong, false, new ArrowType.Int(32, true))

    private def buildVectors(): Unit = {
      if (root != null) { root.close(); vecs.foreach(_.close()) }
      vecs = schema.fields.toSeq.zipWithIndex.map { case (f, ci) =>
        if (isDictCol(ci))
          new Field(f.name, new FieldType(true, new ArrowType.Int(32, true),
            encoding(ci)), null).createVector(alloc)
        else newVector(f, alloc)
      }
      root = new VectorSchemaRoot(vecs.asJava)
    }

    /** message-format schema: a dictionary-encoded field is declared
      * with its VALUE type (utf8) + the encoding — what an IPC schema
      * message carries on the wire (the reader derives the int32
      * index vector and the dictionary vector from it) */
    private def messageSchema(): ASchema = {
      val fields = schema.fields.toSeq.zipWithIndex.map { case (f, ci) =>
        if (isDictCol(ci))
          new Field(f.name,
            new FieldType(true, ArrowType.Utf8.INSTANCE, encoding(ci)), null)
        else vecs(ci).getField
      }
      new ASchema(fields.asJava)
    }

    private def writeDictBatch(ch: WriteChannel, ci: Int, values: Seq[String],
                               isDelta: Boolean): Unit = {
      val dv = new VarCharVector(s"${schema.fields(ci).name}__dict", alloc)
      try {
        dv.setInitialCapacity(values.length)
        values.zipWithIndex.foreach { case (s, j) => dv.setSafe(j, s.getBytes(UTF_8)) }
        dv.setValueCount(values.length)
        val droot = new VectorSchemaRoot(
          java.util.Collections.singletonList(dv.getField),
          java.util.Collections.singletonList(dv.asInstanceOf[FieldVector]), values.length)
        val rb = new VectorUnloader(droot).getRecordBatch
        val db = new ArrowDictionaryBatch(ci.toLong, rb, isDelta)
        try MessageSerializer.serialize(ch, db, IpcOption.DEFAULT)
        finally db.close() // closes the wrapped record batch too
      } finally dv.close()
    }

    /** append a batch to the stream; returns the wire bytes this
      * batch contributes (empty input contributes an empty record
      * batch — a heartbeat) */
    def writeBatch(rows: Seq[Row]): Array[Byte] = {
      require(!closed, "stream already ended")
      val idx = rows.toIndexedSeq
      val out = new java.io.ByteArrayOutputStream()
      val ch = new WriteChannel(java.nio.channels.Channels.newChannel(out))
      // 1. new values per live dictionary column, in first-seen order
      val newValues: Map[Int, IndexedSeq[String]] =
        dictValues.keys.toSeq.sorted.flatMap { ci =>
          val lookup = dictLookup(ci)
          val seen = scala.collection.mutable.LinkedHashSet.empty[String]
          idx.foreach { r =>
            val x = r.get(ci)
            if (x != null) {
              val s = x.asInstanceOf[String]
              if (!lookup.containsKey(s)) seen += s
            }
          }
          if (seen.isEmpty) None else Some(ci -> seen.toIndexedSeq)
        }.toMap
      // 2. overflow check → schema reset: the overflowed column goes
      // plain for the REST OF THE STREAM'S LIFE; end the stream here
      // and let the restart below re-declare the schema
      val overflowed = newValues.filter { case (ci, nv) =>
        dictValues(ci).length + nv.length > dictCap
      }.keys.toSeq.sorted
      if (overflowed.nonEmpty) {
        if (started) {
          ArrowStreamWriter.writeEndOfStream(ch, IpcOption.DEFAULT)
          started = false
          resets += 1
        }
        overflowed.foreach { ci =>
          plainCols += ci; dictValues -= ci; dictLookup -= ci
        }
      }
      // 3. admit the surviving new values into the dictionaries
      val admitted = newValues.view.filterKeys(dictValues.contains).toMap
      admitted.foreach { case (ci, nv) =>
        val values = dictValues(ci); val lookup = dictLookup(ci)
        nv.foreach { s => lookup.put(s, values.length); values += s }
      }
      // 4. (re)start: schema + FULL dictionaries (accumulated)
      if (!started) {
        buildVectors()
        MessageSerializer.serialize(ch, messageSchema(), IpcOption.DEFAULT)
        dictValues.keys.toSeq.sorted.foreach { ci =>
          writeDictBatch(ch, ci, dictValues(ci).toSeq, isDelta = false)
        }
        started = true
      } else {
        // 5. live stream: DELTAS only — just the new entries
        admitted.keys.toSeq.sorted.foreach { ci =>
          writeDictBatch(ch, ci, admitted(ci), isDelta = true)
        }
      }
      // 6. the record batch itself (indices reference the accumulated
      // dictionary — append-only, so old batches stay valid)
      val dictIndex = dictValues.keys.map { ci =>
        ci -> (dictValues(ci).toIndexedSeq, dictLookup(ci))
      }.toMap
      fillBatch(vecs, idx, 0, idx.length, dictIndex, alloc)
      root.setRowCount(idx.length)
      val rb = new VectorUnloader(root).getRecordBatch
      try MessageSerializer.serialize(ch, rb, IpcOption.DEFAULT)
      finally rb.close()
      out.toByteArray
    }

    /** end the stream; returns the EOS bytes */
    def end(): Array[Byte] = {
      require(!closed, "stream already ended")
      closed = true
      val out = new java.io.ByteArrayOutputStream()
      val ch = new WriteChannel(java.nio.channels.Channels.newChannel(out))
      if (started) ArrowStreamWriter.writeEndOfStream(ch, IpcOption.DEFAULT)
      if (root != null) { root.close(); vecs.foreach(_.close()) }
      alloc.close()
      out.toByteArray
    }
  }

  // ---- Spark surfaces ----------------------------------------------

  /** Arrow IPC spool EXPORTER: one .arrow file per (partition, chunk),
    * written executor-side through the Hadoop FS API (works on any
    * cluster filesystem — no driver collect). Column set/order on the
    * wire is the DataFrame's own schema. */
  def spool(df: DataFrame, dir: String, maxPerFile: Int = 4096,
            dictCap: Int = 0, codec: String = "none"): Unit = {
    val schema = df.schema
    schema.fields.foreach { f =>
      val alloc = new RootAllocator()
      try newVector(f, alloc).close() finally alloc.close() // validate up front
    }
    // executor-side writes need the DRIVER's filesystem config
    // (defaultFS, object-store credentials), not a fresh default one
    val hconf = df.sparkSession.sparkContext.broadcast(
      new SerializableHadoopConf(df.sparkSession.sparkContext.hadoopConfiguration))
    // DRIVER-side nonce, fixed per spool() call: task retries and
    // speculative attempts close over the same value and overwrite
    // their own (pid, chunk) names instead of duplicating files under
    // per-attempt randomness, while two spool() calls into one dir
    // still never collide
    val callId = java.util.UUID.randomUUID().toString.take(8)
    df.foreachPartition { (it: Iterator[Row]) =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var chunk = 0
      it.grouped(maxPerFile).foreach { rows =>
        val bytes = encodeRows(schema, rows, dictCap, batchRows = 0, codec = codec)
        val path = new org.apache.hadoop.fs.Path(dir,
          f"part-$callId-$pid%05d-$chunk%04d.arrow")
        val fs = path.getFileSystem(hconf.value.value)
        val os = fs.create(path, true)
        try os.write(bytes) finally os.close()
        chunk += 1
      }
    }
  }

  /** binary IPC payload column (`ipc`) → rows of `schema` (the pb
    * receivers' parse* twin for the Arrow encoding) */
  def parse(payloads: DataFrame, schema: StructType): DataFrame = {
    val binary = payloads.select(col("ipc")).as(Encoders.BINARY)
    binary.flatMap(decodeRows(schema, _))(Encoders.row(schema))
  }

  /** [[decodeRows]] that reports failure instead of throwing — one
    * corrupt spool file must not kill a streaming query (the pb
    * receivers' `_safe` decode policy, arrow flavor) */
  private def decodeTry(schema: StructType,
                        bytes: Array[Byte]): Either[String, Seq[Row]] =
    try Right(decodeRows(schema, bytes))
    catch {
      case scala.util.control.NonFatal(e) => Left(
        s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
    }

  /** [[parse]] with the receiver's dead-letter path: undecodable
    * payloads route to (raw, dlq_error, dlq_time) rows instead of
    * killing the batch — the exact contract of
    * [[OtlpJsonSource.parseLogsPbWithDlq]]. Returns (good, dlq). */
  def parseWithDlq(payloads: DataFrame,
                   schema: StructType): (DataFrame, DataFrame) = {
    val binary = payloads.select(col("ipc")).as(Encoders.BINARY)
    val good = binary.flatMap(b => decodeTry(schema, b).getOrElse(Nil))(
      Encoders.row(schema))
    val dlq = binary.map(b => (b, decodeTry(schema, b).left.toOption.orNull))(
        Encoders.tuple(Encoders.BINARY, Encoders.STRING))
      .toDF("raw", "dlq_error")
      .filter(col("dlq_error").isNotNull)
      .select(col("raw"), col("dlq_error"), current_timestamp().as("dlq_time"))
    (good, dlq)
  }

  def streamSpoolWithDlq(spark: SparkSession, dir: String, schema: StructType,
                         maxFilesPerTrigger: Option[Int] = None): (DataFrame, DataFrame) =
    parseWithDlq(Spool.binaryFiles(spark, dir, maxFilesPerTrigger).select(col("content").as("ipc")), schema)

  /** batch receiver: read a spool directory of .arrow files */
  def readSpool(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    parse(spark.read.format("binaryFile").load(dir)
      .select(col("content").as("ipc")), schema)

  /** streaming receiver: tail the spool directory (the arrow.go
    * receive loop minus gRPC framing — each file is one
    * BatchArrowRecords payload) */
  def streamSpool(spark: SparkSession, dir: String, schema: StructType,
                  maxFilesPerTrigger: Option[Int] = None): DataFrame =
    parse(Spool.binaryFiles(spark, dir, maxFilesPerTrigger).select(col("content").as("ipc")), schema)

  // ---- flattened-contract schemas (derived, never hand-copied) -----

  private def emptyRequests(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[String].toDF("json")
  }
  /** the exact parseLogs output schema — derived from the parser so
    * the Arrow seam cannot drift from the flattened contract */
  def logsSchema(spark: SparkSession): StructType =
    OtlpJsonSource.parseLogs(emptyRequests(spark)).schema
  def spansSchema(spark: SparkSession): StructType =
    OtlpJsonSource.parseSpans(emptyRequests(spark)).schema
  def metricsSchema(spark: SparkSession): StructType =
    OtlpJsonSource.parseMetricPoints(emptyRequests(spark)).schema

  /** Socket-fed Arrow IPC push receiver — the live-stream analog of
    * [[OtlpJsonSource.socketLogsPb]] for the fork's namesake
    * transport (reference behavior: the OTLP-Arrow gRPC stream —
    * each stream message carries one batch of Arrow-encoded records;
    * here each base64 line carries one complete IPC stream payload:
    * schema + dictionaries + record batches + EOS, exactly what
    * [[encodeRows]]/[[spool]] emit, dictionary-encoded and
    * compressed payloads included). Decode is the identical
    * [[parse]] path the spool receivers use, so re-ingesting an
    * [[graft.pipeline.Pipeline.ArrowStreamPoolExporter]]'s output no
    * longer requires the filesystem. Same caveats as the pb socket
    * receivers: Spark's socket source is single-connection,
    * no-replay — a production push receiver fronts this with a
    * durable log feeding the same `ipc` column. */
  def socketArrow(spark: SparkSession, host: String, port: Int,
                  schema: StructType): DataFrame =
    parse(spark.readStream.format("socket")
      .option("host", host).option("port", port).load()
      .select(unbase64(col("value")).as("ipc")), schema)

  /** Admission-bounded Arrow push GATEWAY — the receiver-side
    * in-flight memory bound of the reference's Arrow stream receiver
    * (behavior: a request's byte size is admitted against a fixed
    * budget BEFORE the receiver buffers it; a full budget blocks the
    * stream read — backpressure to the sender's transport — and a
    * payload larger than the whole budget is refused rather than
    * waited on forever).
    *
    * Wire format is [[socketArrow]]'s: one base64 line per complete
    * IPC payload. Unlike Spark's single-connection, no-replay socket
    * source, the gateway accepts ANY number of concurrent
    * connections and lands every admitted payload DURABLY in
    * `spoolDir` (tmp+rename, executor-invisible until complete) —
    * the directory [[streamSpool]]/[[readSpool]] tail — so the
    * memory budget covers only received-but-not-yet-durable bytes:
    * disk is the 100 TB-scale buffer, receiver memory is not.
    *
    * Admission holds from after base64 decode to after the rename;
    * budget-full therefore stops THIS connection's read loop and the
    * sender's TCP window fills (the gRPC-flow-control analog). A
    * too-large payload dead-letters to `spoolDir/_dlq` with a reason
    * file instead of deadlocking the line. Per-connection overhead
    * beyond the budget is one in-flight line buffer. */
  final class ArrowAdmissionGateway(port: Int, spoolDir: String,
      admission: graft.pipeline.AdmissionController,
      tls: Option[TlsConfig] = None) {
    private val counter = new java.util.concurrent.atomic.AtomicLong
    val payloads = new java.util.concurrent.atomic.AtomicLong
    val deadLettered = new java.util.concurrent.atomic.AtomicLong
    // configtls on the socket transport: identity + optional mTLS, the
    // same config surface as the HTTP receiver
    private val server = graft.pipeline.ConfigNet.listen(graft.pipeline.ConfigNet.Tcp, port, tls)
    @volatile private var running = true

    private def handle(sock: graft.pipeline.ConfigNet.Conn): Unit = {
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(sock.in, "US-ASCII"))
      try {
        var line = in.readLine()
        while (line != null) {
          if (line.nonEmpty) {
            val bytes = java.util.Base64.getDecoder.decode(line)
            // Only TooLarge (waiting can never help) is dead-lettered.
            // TooManyWaiters is a transient connection pile-up: the
            // budget-full contract is "block THIS read loop", so we
            // keep this payload and retry — the sender sees a stalled
            // TCP window, not silent diversion of valid data.
            var admitted = false
            var dead = false
            while (!admitted && !dead) {
              admission.acquire(bytes.length.toLong) match {
                case Right(()) => admitted = true
                case Left(graft.pipeline.AdmissionController.TooLarge) =>
                  val dlq = new java.io.File(spoolDir, "_dlq")
                  dlq.mkdirs()
                  java.nio.file.Files.write(new java.io.File(dlq,
                    f"too-large-${counter.incrementAndGet()}%08d.arrow").toPath,
                    bytes)
                  deadLettered.incrementAndGet()
                  dead = true
                case Left(_) => // TooManyWaiters (or Timeout): back off
                  Thread.sleep(5)
              }
            }
            if (admitted)
              try {
                Spool.commit(new java.io.File(spoolDir),
                  f"gw-${counter.incrementAndGet()}%08d-${System.nanoTime()}%x.arrow", bytes)
                payloads.incrementAndGet()
              } finally admission.release(bytes.length.toLong)
          }
          line = in.readLine()
        }
      } catch {
        case _: java.io.IOException if !running => () // shutdown race
      } finally sock.close()
    }

    private val acceptor = new Thread(() => {
      try while (running) {
        val sock = server.accept()
        val t = new Thread(() => handle(sock), "arrow-gateway-conn")
        t.setDaemon(true); t.start()
      } catch { case _: java.io.IOException => () } // closed on stop
    }, "arrow-gateway-accept")
    acceptor.setDaemon(true); acceptor.start()

    def boundPort: Int = server.boundPort
    def stop(): Unit = { running = false; server.close() }
  }

  /** [[socketArrow]] per signal, over the derived flattened-contract
    * schemas. (For a dead-letter path, wrap the payload frame with
    * [[parseWithDlq]] inside a single foreachBatch router — two
    * streaming frames over ONE socket source would open two
    * connections, the [[OtlpJsonSource.socketLogsPbRouted]] caveat.) */
  def socketLogsArrow(spark: SparkSession, host: String, port: Int): DataFrame =
    socketArrow(spark, host, port, logsSchema(spark))
  def socketSpansArrow(spark: SparkSession, host: String, port: Int): DataFrame =
    socketArrow(spark, host, port, spansSchema(spark))
  def socketMetricsArrow(spark: SparkSession, host: String, port: Int): DataFrame =
    socketArrow(spark, host, port, metricsSchema(spark))

  // ---- per-signal receivers ----------------------------------------

  def streamLogsSpool(spark: SparkSession, dir: String,
                      maxFilesPerTrigger: Option[Int] = None): DataFrame =
    streamSpool(spark, dir, logsSchema(spark), maxFilesPerTrigger)
  def streamSpansSpool(spark: SparkSession, dir: String,
                       maxFilesPerTrigger: Option[Int] = None): DataFrame =
    streamSpool(spark, dir, spansSchema(spark), maxFilesPerTrigger)
  def streamMetricsSpool(spark: SparkSession, dir: String,
                         maxFilesPerTrigger: Option[Int] = None): DataFrame =
    streamSpool(spark, dir, metricsSchema(spark), maxFilesPerTrigger)
}
