package graft.store

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._

/** Driver-local parquet writer and reader for METADATA-SCALE commits
  * and reads (guide §5: the driver should do almost no data work — but
  * a 1-row meta table or a 10-row chat-session commit is not data work,
  * and launching a full Spark write job for it costs ~200-900 ms of
  * plan+schedule+commit per call; measured on the q172/q398 profiles
  * this was a fifth of their wall). Writes rows straight through parquet-mr with the exact
  * physical/logical types Spark's own writer would choose for the
  * supported atomic types, so the store's schema-pinned read path
  * (`spark.read.schema(committed)`) is oblivious to which writer
  * produced a segment. [[readIfExact]] is the inverse, for partitions
  * whose every footer is exactly that layout.
  *
  * Scope is deliberately narrow: rows must already be ON the driver (a
  * LocalRelation plan — never a collect of distributed data) and every
  * field must be an atomic type from the table below; anything else
  * falls back to the Spark write path at the call site. */
object LocalParquet {

  /** Spark → parquet type mapping for the supported atomics (mirrors
    * SparkToParquetSchemaConverter for these types, whose repetition is
    * `required` for a non-nullable field). None = unsupported, caller
    * must fall back. */
  private def parquetField(f: StructField): Option[Type] = {
    val rep = if (f.nullable) Type.Repetition.OPTIONAL else Type.Repetition.REQUIRED
    val b = f.dataType match {
      case BooleanType => Some(Types.primitive(BOOLEAN, rep))
      case IntegerType => Some(Types.primitive(INT32, rep))
      case LongType => Some(Types.primitive(INT64, rep))
      case FloatType => Some(Types.primitive(FLOAT, rep))
      case DoubleType => Some(Types.primitive(DOUBLE, rep))
      case StringType => Some(Types.primitive(BINARY, rep)
        .as(LogicalTypeAnnotation.stringType()))
      case TimestampType => Some(Types.primitive(INT64, rep)
        .as(LogicalTypeAnnotation.timestampType(true,
          LogicalTypeAnnotation.TimeUnit.MICROS)))
      case DateType => Some(Types.primitive(INT32, rep)
        .as(LogicalTypeAnnotation.dateType()))
      case _ => None
    }
    b.map(_.named(f.name))
  }

  /** Whether every field of `schema` is writable by this fast path. */
  def supports(schema: StructType): Boolean =
    schema.fields.forall(f => parquetField(f).isDefined)

  private def messageType(schema: StructType): MessageType = {
    val tb = Types.buildMessage()
    schema.fields.foreach(f => tb.addField(parquetField(f).getOrElse(
      throw new IllegalArgumentException(s"unsupported field $f"))))
    tb.named("spark_schema")
  }

  /** Write `rows` as ONE parquet file at `file`. Timestamps are encoded
    * as micros-since-epoch (adjusted to UTC), dates as epoch days —
    * exactly Spark's encoding for these types. A null in a non-nullable
    * field fails loudly: a `required` column cannot hold it. */
  def write(conf: Configuration, file: HPath, schema: StructType,
            rows: Seq[Row]): Unit = {
    val mt = messageType(schema)
    val hc = new Configuration(conf)
    GroupWriteSupport.setSchema(mt, hc)
    val w = ExampleParquetWriter.builder(file)
      .withConf(hc)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    try rows.foreach { r =>
      val g = new SimpleGroup(mt)
      var i = 0
      while (i < schema.length) {
        if (!r.isNullAt(i)) schema.fields(i).dataType match {
          case BooleanType => g.add(i, r.getBoolean(i))
          case IntegerType => g.add(i, r.getInt(i))
          case LongType => g.add(i, r.getLong(i))
          case FloatType => g.add(i, r.getFloat(i))
          case DoubleType => g.add(i, r.getDouble(i))
          case StringType => g.add(i, r.getString(i))
          case TimestampType => r.get(i) match {
            // rows carry java.sql.Timestamp by default and
            // java.time.Instant under spark.sql.datetime.java8API.enabled
            // — both encode to the same INT64 micros (r19 advisor)
            case ts: java.sql.Timestamp =>
              g.add(i, ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L)
            case ins: java.time.Instant =>
              g.add(i, Math.addExact(
                Math.multiplyExact(ins.getEpochSecond, 1000000L),
                (ins.getNano / 1000).toLong))
            case other => throw new IllegalArgumentException(
              s"unsupported timestamp representation ${other.getClass}")
          }
          case DateType => r.get(i) match {
            case d: java.sql.Date => g.add(i, d.toLocalDate.toEpochDay.toInt)
            case ld: java.time.LocalDate => g.add(i, ld.toEpochDay.toInt)
            case other => throw new IllegalArgumentException(
              s"unsupported date representation ${other.getClass}")
          }
          case other =>
            throw new IllegalArgumentException(s"unsupported type $other")
        }
        else if (!schema.fields(i).nullable)
          throw new IllegalArgumentException(s"null in non-nullable field ${schema.fields(i).name}")
        i += 1
      }
      w.write(g)
    } finally w.close()
  }

  /** Driver-local read of ONE parquet file into Spark-external Rows —
    * the inverse of [[write]], for the store's driver-local reads of
    * metadata-scale partitions (the kept side of a keyed upsert, a chat
    * session's history): a kB-sized partition does not need a Spark job
    * when parquet-mr reads it in ~ms. STRICTLY gated by the footer:
    * returns None unless the file's MessageType is byte-for-byte the
    * layout [[write]] (and Spark, for these atomics) produces for
    * `schema` — an INT96-timestamp file, a field-id-annotated file, or
    * any evolved/reordered layout falls back to the Spark read path at
    * the call site. Rows carry `schema` (fields resolve by name) and
    * Spark's default external representations (java.sql.Timestamp/Date
    * — consumers writing them back through [[write]] round-trip
    * exactly).
    *
    * The file is opened ONCE, under the caller's `conf`: the footer
    * check and every row group are read from the same reader. The
    * one-argument `ParquetFileReader.open` and `ParquetReader.builder`
    * each build a fresh Hadoop `Configuration`, whose first lookup
    * re-parses the default XML resources out of the classpath jars —
    * most of a kB-sized read's cost. */
  def readIfExact(conf: Configuration, file: HPath,
                  schema: StructType): Option[Seq[Row]] = {
    val expected = messageType(schema)
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf),
      HadoopReadOptions.builder(conf, file).build())
    try {
      if (reader.getFooter.getFileMetaData.getSchema != expected) return None
      val columnIO = new ColumnIOFactory().getColumnIO(expected)
      val out = Seq.newBuilder[Row]
      var pages = reader.readNextRowGroup()
      while (pages != null) {
        val records = columnIO.getRecordReader(pages, new GroupRecordConverter(expected))
        var left = pages.getRowCount
        while (left > 0) {
          out += fromGroup(records.read(), schema)
          left -= 1
        }
        pages = reader.readNextRowGroup()
      }
      Some(out.result())
    } finally reader.close()
  }

  private def fromGroup(g: Group, schema: StructType): Row = {
    val vals = new Array[Any](schema.length)
    var i = 0
    while (i < schema.length) {
      if (g.getFieldRepetitionCount(i) > 0) vals(i) = schema.fields(i).dataType match {
        case BooleanType => g.getBoolean(i, 0)
        case IntegerType => g.getInteger(i, 0)
        case LongType => g.getLong(i, 0)
        case FloatType => g.getFloat(i, 0)
        case DoubleType => g.getDouble(i, 0)
        case StringType => g.getString(i, 0)
        case TimestampType =>
          val micros = g.getLong(i, 0)
          val ts = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
          ts.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
          ts
        case DateType =>
          java.sql.Date.valueOf(
            java.time.LocalDate.ofEpochDay(g.getInteger(i, 0).toLong))
        case other =>
          throw new IllegalArgumentException(s"unsupported type $other")
      }
      i += 1
    }
    new GenericRowWithSchema(vals, schema)
  }
}
