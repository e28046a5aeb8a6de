package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.api.{Binary, RecordConsumer}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** Executor-side `InternalRow` → parquet staging writer for FLAT
  * relational schemas — the files it writes are read back by
  * [[GraftColumnarReader]] — built on parquet's public
  * `WriteSupport`/`RecordConsumer` API (no Spark-internal writer).
  *
  * Used by the row-level-operation delta writers
  * ([[GraftDeltaWriter]]) to stage per-task delete tombstones and
  * insert rows WITHOUT a driver round-trip: each executor task
  * streams its rows straight to a staged parquet file, and only the
  * file paths ride the commit messages — commit-message size stays
  * O(tasks), not O(rows), which is what keeps a 100 TB MERGE's
  * coordination footprint flat.
  *
  * Type coverage mirrors the provider's read contract (flat schemas;
  * nested types are refused loudly there and here). Values written
  * are the Catalyst-internal representations: micros for timestamps,
  * days for dates, `UTF8String` bytes for strings, unscaled big-int
  * bytes for decimals — annotated with the matching parquet logical
  * types so `spark.read.parquet` on the staged file restores exact
  * values and types.
  */
object RowParquet {

  /** Smallest two's-complement byte length holding any unscaled value
    * of the given decimal precision (the parquet spec's fixed-length
    * table; matches Spark's own writer). */
  private[sources] def minBytesForPrecision(precision: Int): Int =
    (math.ceil((math.log(math.pow(10, precision)) / math.log(2) + 1) / 8))
      .toInt.max(1)

  /** Parquet message type for `schema` — every field optional, logical
    * annotations matching what Spark's own parquet writer declares, so
    * staged files read back under the same Spark schema. */
  def messageType(name: String, schema: StructType): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      val t: Type = f.dataType match {
        case BooleanType =>
          Types.optional(PrimitiveTypeName.BOOLEAN).named(f.name)
        case ByteType =>
          Types.optional(PrimitiveTypeName.INT32)
            .as(LogicalTypeAnnotation.intType(8, true)).named(f.name)
        case ShortType =>
          Types.optional(PrimitiveTypeName.INT32)
            .as(LogicalTypeAnnotation.intType(16, true)).named(f.name)
        case IntegerType =>
          Types.optional(PrimitiveTypeName.INT32).named(f.name)
        case LongType =>
          Types.optional(PrimitiveTypeName.INT64).named(f.name)
        case FloatType =>
          Types.optional(PrimitiveTypeName.FLOAT).named(f.name)
        case DoubleType =>
          Types.optional(PrimitiveTypeName.DOUBLE).named(f.name)
        case StringType =>
          Types.optional(PrimitiveTypeName.BINARY)
            .as(LogicalTypeAnnotation.stringType()).named(f.name)
        case BinaryType =>
          Types.optional(PrimitiveTypeName.BINARY).named(f.name)
        case DateType =>
          Types.optional(PrimitiveTypeName.INT32)
            .as(LogicalTypeAnnotation.dateType()).named(f.name)
        case TimestampType =>
          Types.optional(PrimitiveTypeName.INT64)
            .as(LogicalTypeAnnotation.timestampType(true,
              LogicalTypeAnnotation.TimeUnit.MICROS)).named(f.name)
        case TimestampNTZType =>
          Types.optional(PrimitiveTypeName.INT64)
            .as(LogicalTypeAnnotation.timestampType(false,
              LogicalTypeAnnotation.TimeUnit.MICROS)).named(f.name)
        case d: DecimalType =>
          // FIXED_LEN_BYTE_ARRAY is the encoding Spark's vectorized
          // reader expects for binary decimals (plain BINARY decimal
          // is the legacy form it refuses)
          Types.optional(PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY)
            .length(minBytesForPrecision(d.precision))
            .as(LogicalTypeAnnotation.decimalType(d.scale, d.precision))
            .named(f.name)
        case _: org.apache.spark.sql.types.VariantType =>
          // the PLAIN variant encoding (value + metadata binaries) —
          // the same group Spark's unshredded writer stages and its
          // vectorized reader decodes
          Types.optionalGroup()
            .addField(Types.optional(PrimitiveTypeName.BINARY)
              .named("value"))
            .addField(Types.optional(PrimitiveTypeName.BINARY)
              .named("metadata"))
            .named(f.name)
        case other => throw new UnsupportedOperationException(
          s"RowParquet stages flat relational schemas only, not $other " +
            s"(column ${f.name})")
      }
      b.addField(t)
    }
    b.named(name)
  }

  private final class InternalRowWriteSupport(schema: StructType)
      extends WriteSupport[InternalRow] {
    private val mt = messageType("graft_staged", schema)
    private var consumer: RecordConsumer = _

    override def init(conf: Configuration): WriteSupport.WriteContext =
      new WriteSupport.WriteContext(mt,
        java.util.Collections.emptyMap[String, String]())
    override def prepareForWrite(rc: RecordConsumer): Unit = consumer = rc

    private val writers: Array[(InternalRow, Int) => Unit] =
      schema.fields.map { f =>
        f.dataType match {
          case BooleanType => (r, i) => consumer.addBoolean(r.getBoolean(i))
          case ByteType    => (r, i) => consumer.addInteger(r.getByte(i).toInt)
          case ShortType   => (r, i) => consumer.addInteger(r.getShort(i).toInt)
          case IntegerType | DateType =>
            (r, i) => consumer.addInteger(r.getInt(i))
          case LongType | TimestampType | TimestampNTZType =>
            (r, i) => consumer.addLong(r.getLong(i))
          case FloatType   => (r, i) => consumer.addFloat(r.getFloat(i))
          case DoubleType  => (r, i) => consumer.addDouble(r.getDouble(i))
          case StringType  => (r, i) => consumer.addBinary(
            Binary.fromConstantByteArray(r.getUTF8String(i).getBytes))
          case BinaryType  => (r, i) => consumer.addBinary(
            Binary.fromConstantByteArray(r.getBinary(i)))
          case d: DecimalType =>
            val len = minBytesForPrecision(d.precision)
            (r, i) => {
              val unscaled = r.getDecimal(i, d.precision, d.scale)
                .toJavaBigDecimal.unscaledValue()
              val bytes = unscaled.toByteArray // minimal two's complement
              val out = new Array[Byte](len)
              if (unscaled.signum() < 0)
                java.util.Arrays.fill(out, -1.toByte)
              System.arraycopy(bytes, 0, out, len - bytes.length, bytes.length)
              consumer.addBinary(Binary.fromConstantByteArray(out))
            }
          case vt: org.apache.spark.sql.types.VariantType =>
            (r, i) => {
              val v = r.get(i, vt)
                .asInstanceOf[org.apache.spark.unsafe.types.VariantVal]
              consumer.startGroup()
              consumer.startField("value", 0)
              consumer.addBinary(Binary.fromConstantByteArray(v.getValue))
              consumer.endField("value", 0)
              consumer.startField("metadata", 1)
              consumer.addBinary(
                Binary.fromConstantByteArray(v.getMetadata))
              consumer.endField("metadata", 1)
              consumer.endGroup()
            }
          case other => throw new UnsupportedOperationException(
            s"RowParquet cannot stage $other")
        }
      }

    override def write(row: InternalRow): Unit = {
      consumer.startMessage()
      var i = 0
      while (i < writers.length) {
        if (!row.isNullAt(i)) {
          consumer.startField(schema.fields(i).name, i)
          writers(i)(row, i)
          consumer.endField(schema.fields(i).name, i)
        }
        i += 1
      }
      consumer.endMessage()
    }
  }

  private final class B(path: Path, schema: StructType)
      extends ParquetWriter.Builder[InternalRow, B](path) {
    override def self(): B = this
    override def getWriteSupport(conf: Configuration)
        : WriteSupport[InternalRow] = new InternalRowWriteSupport(schema)
  }

  /** Open a staged-file writer at `path` (task-unique — never
    * overwritten concurrently). Pass the session's Hadoop
    * configuration where available — executor tasks writing to an
    * object store need its credentials/endpoint settings, which a
    * bare `new Configuration()` lacks. */
  def open(path: String, schema: StructType,
      conf: Configuration = new Configuration())
      : ParquetWriter[InternalRow] =
    new B(new Path(path), schema)
      .withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
}
