package graft.functions

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericDatumReader, GenericFixed, GenericRecord}
import org.apache.avro.io.{BinaryDecoder, DecoderFactory}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.nio.ByteBuffer
import scala.jdk.CollectionConverters._

/** Catalyst decoder for Confluent-wire-format Avro values.
  *
  * Wire format (proven by the reference's fallback `seek(5)` path,
  * lambda_function.py:175-182): magic byte 0x00 + 4-byte big-endian schema id
  * + Avro binary body. The reference's two decode paths — registry
  * deserializer (lambda_function.py:164-174) and manual header-skip
  * (:175-182) — collapse into this single expression.
  *
  * This is a custom `Expression` rather than a UDF because (a) the spark-avro
  * module is not on this classpath, and (b) an Expression returns a typed
  * struct whose fields Catalyst can prune/push through, keeping the
  * surrounding projection inside the optimized plan. Its generated code
  * calls `nullSafeEval` on this instance, as spark-avro's
  * `AvroDataToCatalyst` does: the Avro reader is library code either way.
  */
case class ConfluentAvroDecode(child: Expression, schemaJson: String,
    permissive: Boolean = false)
    extends UnaryExpression {

  @transient private lazy val avroSchema: Schema =
    new Schema.Parser().parse(schemaJson)

  /** Built once: the analyzer and optimizer ask for it many times. */
  @transient override lazy val dataType: DataType =
    AvroSchemaConverter.toSqlType(avroSchema)
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"confluent_avro needs a binary value column, got ${child.dataType}")
  }

  // Tasks deserialize their own expression copies, but stay defensive about
  // shared instances in local mode: reader state is per-thread.
  @transient private lazy val local =
    new ThreadLocal[(GenericDatumReader[GenericRecord], Array[BinaryDecoder])] {
      override def initialValue() =
        (new GenericDatumReader[GenericRecord](avroSchema),
          new Array[BinaryDecoder](1))
    }

  override def nullSafeEval(input: Any): Any = {
    val raw = input.asInstanceOf[Array[Byte]]
    // Strip the 5-byte Confluent header when present (magic 0x00 + 4-byte
    // schema id). >= 5, not > 5: a framed message with an empty Avro body
    // is exactly 5 bytes and must still be stripped.
    val (off, len) =
      if (raw.length >= 5 && raw(0) == 0.toByte) (5, raw.length - 5)
      else (0, raw.length)
    val (reader, decoderHolder) = local.get()
    val decoder =
      DecoderFactory.get().binaryDecoder(raw, off, len, decoderHolder(0))
    decoderHolder(0) = decoder
    // FAILFAST by default: a corrupt record fails the batch, the
    // checkpointed stream retries (the reference's error contract).
    // Permissive mode maps corrupt records to null so a lake backfill can
    // quarantine them with a simple isNull filter instead of dying.
    if (permissive) {
      try {
        val record = reader.read(null, decoder)
        AvroSchemaConverter.toCatalyst(record, avroSchema).asInstanceOf[InternalRow]
      } catch {
        case _: java.io.IOException | _: org.apache.avro.AvroRuntimeException |
            _: ArrayIndexOutOfBoundsException => null
      }
    } else {
      val record = reader.read(null, decoder)
      AvroSchemaConverter.toCatalyst(record, avroSchema).asInstanceOf[InternalRow]
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("this", this)
    nullSafeCodeGen(ctx, ev, eval => {
      val result = ctx.freshName("result")
      val boxed = CodeGenerator.boxedType(dataType)
      s"""
        $boxed $result = ($boxed) $self.nullSafeEval($eval);
        if ($result == null) {
          ${ev.isNull} = true;
        } else {
          ${ev.value} = $result;
        }
      """
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
  override def prettyName: String = "confluent_avro"
}

/** Avro schema/value → Catalyst converters for the generic-engine subset:
  * records, arrays, maps, unions of [null, T], all primitive types, enums
  * and fixed. (No multi-branch unions — the CDC data model never produces
  * them; SURVEY.md §1.3.) */
object AvroSchemaConverter {
  import Schema.Type._

  def toSqlType(s: Schema): DataType = s.getType match {
    case RECORD =>
      StructType(s.getFields.asScala.map { f =>
        val (dt, nullable) = fieldType(f.schema())
        StructField(f.name(), dt, nullable)
      }.toArray)
    case other =>
      fieldType(s)._1
  }

  private def fieldType(s: Schema): (DataType, Boolean) = s.getType match {
    case UNION =>
      val branches = s.getTypes.asScala.filterNot(_.getType == NULL)
      require(branches.size == 1,
        s"only union[null, T] supported, got $s")
      (fieldType(branches.head)._1, true)
    case NULL    => (NullType, true)
    case BOOLEAN => (BooleanType, false)
    case INT     => (IntegerType, false)
    case LONG    => (LongType, false)
    case FLOAT   => (FloatType, false)
    case DOUBLE  => (DoubleType, false)
    case BYTES | FIXED => (BinaryType, false)
    case STRING | ENUM => (StringType, false)
    case ARRAY => (ArrayType(fieldType(s.getElementType)._1), false)
    case MAP   => (MapType(StringType, fieldType(s.getValueType)._1), false)
    case other => throw new IllegalArgumentException(s"unsupported avro type $other")
  }

  /** Avro runtime value → Catalyst internal value. */
  def toCatalyst(v: Any, s: Schema): Any = {
    if (v == null) return null
    s.getType match {
      case UNION =>
        val branch = s.getTypes.asScala.find(_.getType != NULL).get
        toCatalyst(v, branch)
      case RECORD =>
        val rec = v.asInstanceOf[GenericRecord]
        val fields = s.getFields.asScala
        val out = new Array[Any](fields.size)
        var i = 0
        while (i < fields.size) {
          out(i) = toCatalyst(rec.get(i), fields(i).schema())
          i += 1
        }
        new GenericInternalRow(out)
      case STRING | ENUM => UTF8String.fromString(v.toString)
      case BYTES =>
        val bb = v.asInstanceOf[ByteBuffer]
        val arr = new Array[Byte](bb.remaining()); bb.duplicate().get(arr); arr
      case FIXED => v.asInstanceOf[GenericFixed].bytes().clone()
      case ARRAY =>
        val elems = v.asInstanceOf[java.util.Collection[Any]].asScala
          .map(toCatalyst(_, s.getElementType)).toArray
        new GenericArrayData(elems)
      case MAP =>
        val m = v.asInstanceOf[java.util.Map[Any, Any]].asScala
        ArrayBasedMapData(
          m.keys.map(k => UTF8String.fromString(k.toString)).toArray,
          m.values.map(toCatalyst(_, s.getValueType)).toArray)
      case _ => v // boolean/int/long/float/double pass through
    }
  }
}

object ConfluentAvro {
  /** Column builder: decode a Confluent-framed Avro binary column into a
    * struct with the writer schema's field order (P1–P3 parity: struct
    * order IS the reference's first-record field order,
    * lambda_function.py:215-226). */
  def confluent_avro(value: Column, schemaJson: String): Column =
    org.apache.spark.sql.GraftBridge.column(
      ConfluentAvroDecode(
        org.apache.spark.sql.GraftBridge.expression(value),
        schemaJson))

  /** Permissive variant: corrupt/truncated records decode to null instead
    * of failing the batch (quarantine with WHERE decoded IS NULL). */
  def try_confluent_avro(value: Column, schemaJson: String): Column =
    org.apache.spark.sql.GraftBridge.column(
      ConfluentAvroDecode(
        org.apache.spark.sql.GraftBridge.expression(value),
        schemaJson, permissive = true))
}
