package graft.ops

import java.nio.ByteBuffer
import java.time.LocalDate

import org.apache.avro.{LogicalTypes, Schema}
import org.apache.avro.file.{CodecFactory, DataFileReader, DataFileWriter, SeekableByteArrayInput}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

import scala.jdk.CollectionConverters._

/** Avro container-file source + sink (reference capability surface:
  * simple_etl.py's Extract/Load stage offers the columnar formats its
  * libraries ship — Avro is the canonical row-oriented landing format
  * those same pipelines exchange, so a user switching engines expects
  * it). The spark-avro connector module does not ship in this
  * environment, so like [[ExcelSource]] this is built only on what the
  * distribution already has: avro-1.12 core from /opt/spark/jars.
  *
  * Write: one container file per partition (`part-NNNNN.avro`), deflate
  * codec (pure-JDK — no native codec dependency), schema derived from
  * the DataFrame schema with every field a nullable union. Date /
  * timestamp use the standard `date` / `timestamp-micros` logical
  * types, so files interoperate with any Avro reader.
  *
  * Read: `binaryFiles` hands each container whole to one task (the
  * directory parallelizes per file, matching the per-partition write
  * layout); the writer schema embedded in the first file drives the
  * Spark schema. A production splittable variant would seek between
  * sync markers inside large files — with the write side emitting one
  * file per upstream partition, per-file parallelism already equals the
  * producing job's, which is the shape that matters at scale.
  *
  * Both sides open files through the session's Hadoop conf
  * (`spark.hadoop.*` and session-level keys included), broadcast once
  * per call to the tasks.
  */
object AvroIO {

  /** The session's Hadoop conf, broadcast once for this call's tasks. */
  private def hadoopConf(spark: SparkSession): Broadcast[SerializableConfiguration] =
    spark.sparkContext.broadcast(new SerializableConfiguration(spark.sessionState.newHadoopConf()))

  /** Spark → Avro schema for the supported flat types. Every field is
    * union(null, T) so Spark nullability never truncates data.
    */
  def avroSchema(schema: StructType, name: String = "graft_record"): Schema = {
    val fields = schema.fields.map { f =>
      require(f.name.matches("[A-Za-z_][A-Za-z0-9_]*"),
        s"avro field names are [A-Za-z_][A-Za-z0-9_]*; rename column '${f.name}' first")
      val base = f.dataType match {
        case StringType => Schema.create(Schema.Type.STRING)
        case IntegerType => Schema.create(Schema.Type.INT)
        case LongType => Schema.create(Schema.Type.LONG)
        case FloatType => Schema.create(Schema.Type.FLOAT)
        case DoubleType => Schema.create(Schema.Type.DOUBLE)
        case BooleanType => Schema.create(Schema.Type.BOOLEAN)
        case BinaryType => Schema.create(Schema.Type.BYTES)
        case DateType => LogicalTypes.date().addToSchema(Schema.create(Schema.Type.INT))
        case TimestampType =>
          LogicalTypes.timestampMicros().addToSchema(Schema.create(Schema.Type.LONG))
        case TimestampNTZType =>
          LogicalTypes.localTimestampMicros().addToSchema(Schema.create(Schema.Type.LONG))
        case other => throw new IllegalArgumentException(
          s"unsupported type for avro write: ${f.name}: $other (flat types only)")
      }
      new Schema.Field(f.name,
        Schema.createUnion(Schema.create(Schema.Type.NULL), base),
        null, Schema.Field.NULL_DEFAULT_VALUE)
    }
    val rec = Schema.createRecord(name, null, "graft", false)
    rec.setFields(fields.toSeq.asJava)
    rec
  }

  /** Avro (reader) → Spark schema: the inverse of [[avroSchema]].
    * Accepts plain types and union(null, T); logical `date` /
    * `timestamp-micros` map back to DateType / TimestampType.
    */
  def sparkSchema(schema: Schema): StructType = {
    def branch(s: Schema): Schema =
      if (s.getType == Schema.Type.UNION)
        s.getTypes.asScala.find(_.getType != Schema.Type.NULL).getOrElse(
          throw new IllegalArgumentException("union with only null branch"))
      else s
    StructType(schema.getFields.asScala.map { f =>
      val b = branch(f.schema())
      val dt = (b.getType, Option(b.getLogicalType).map(_.getName).getOrElse("")) match {
        case (Schema.Type.STRING, _) => StringType
        case (Schema.Type.INT, "date") => DateType
        case (Schema.Type.INT, _) => IntegerType
        case (Schema.Type.LONG, "timestamp-micros") => TimestampType
        case (Schema.Type.LONG, "local-timestamp-micros") => TimestampNTZType
        case (Schema.Type.LONG, _) => LongType
        case (Schema.Type.FLOAT, _) => FloatType
        case (Schema.Type.DOUBLE, _) => DoubleType
        case (Schema.Type.BOOLEAN, _) => BooleanType
        case (Schema.Type.BYTES, _) => BinaryType
        case (t, _) => throw new IllegalArgumentException(s"unsupported avro type $t")
      }
      StructField(f.name(), dt, nullable = true)
    }.toSeq)
  }

  /** Write `df` as a directory of Avro container files, one per
    * partition. Returns `df` unchanged (sink contract shared with
    * [[Sinks]]). Deflate level 6 — pure JDK, no native codec needed.
    */
  def write(df: DataFrame, path: String): DataFrame = {
    val sparkT = df.schema
    val avroJson = avroSchema(sparkT).toString
    val dir = new Path(path)
    val conf = hadoopConf(df.sparkSession)
    val fs = dir.getFileSystem(conf.value.value)
    if (fs.exists(dir)) fs.delete(dir, true)
    fs.mkdirs(dir)
    // one job, one container file per non-empty partition; the count
    // forces the write and is the only thing that reaches the driver
    df.rdd.mapPartitionsWithIndex { (pid, rows) =>
      if (!rows.hasNext) Iterator.empty
      else {
        val schema = new Schema.Parser().parse(avroJson)
        val file = new Path(path, f"part-$pid%05d.avro")
        val out = file.getFileSystem(conf.value.value).create(file, true)
        val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
        w.setCodec(CodecFactory.deflateCodec(6))
        w.create(schema, out)
        var n = 0L
        rows.foreach { r => w.append(toRecord(r, sparkT, schema)); n += 1 }
        w.close()
        Iterator(n)
      }
    }.sum()
    df
  }

  /** Read a directory of Avro container files into a DataFrame — one
    * task per container file, mirroring the write layout. (The earlier
    * `binaryFiles` formulation sat on CombineFileInputFormat, which
    * PACKS small files into few byte-sized splits regardless of the
    * minPartitions hint — a directory of 32 per-partition files
    * decoded on ONE task, 0.61s vs ~0.1s spread at sf0.1 — and its
    * schema probe was a cluster job reading a whole file.) The writer
    * schema comes from a driver-side header read of the first file:
    * zero jobs before the scan itself.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val conf = hadoopConf(spark)
    val fs = new Path(path).getFileSystem(conf.value.value)
    val files = fs.globStatus(new Path(path, "*.avro"))
      .map(_.getPath.toString).sorted.toSeq
    require(files.nonEmpty, s"no .avro container files under $path")
    val writerSchema = {
      val in = fs.open(new Path(files.head))
      val ds = new org.apache.avro.file.DataFileStream[GenericRecord](
        in, new GenericDatumReader[GenericRecord]())
      try ds.getSchema finally ds.close()
    }
    val sparkT = sparkSchema(writerSchema)
    val json = writerSchema.toString
    val rdd = spark.sparkContext.parallelize(files, files.length).flatMap { f =>
      val schema = new Schema.Parser().parse(json)
      val p = new Path(f)
      val r = new org.apache.avro.file.DataFileStream[GenericRecord](
        p.getFileSystem(conf.value.value).open(p),
        new GenericDatumReader[GenericRecord](schema))
      val tc = org.apache.spark.TaskContext.get()
      if (tc != null) tc.addTaskCompletionListener[Unit](_ => r.close())
      val fields = sparkSchema(schema).fields
      r.iterator().asScala.map(rec => toRow(rec, fields))
    }
    spark.createDataFrame(rdd, sparkT)
  }

  private def toRecord(row: Row, sparkT: StructType, schema: Schema): GenericRecord = {
    val rec = new GenericData.Record(schema)
    var i = 0
    while (i < sparkT.length) {
      val v =
        if (row.isNullAt(i)) null
        else sparkT.fields(i).dataType match {
          case DateType =>
            Int.box(row.getAs[java.sql.Date](i).toLocalDate.toEpochDay.toInt)
          case TimestampType =>
            val ts = row.getAs[java.sql.Timestamp](i)
            Long.box(Math.multiplyExact(ts.getTime / 1000L, 1000000L) +
              ts.getNanos.toLong / 1000L)
          case TimestampNTZType =>
            val dt = row.getAs[java.time.LocalDateTime](i)
            Long.box(Math.multiplyExact(
              dt.toEpochSecond(java.time.ZoneOffset.UTC), 1000000L) +
              dt.getNano.toLong / 1000L)
          case BinaryType => ByteBuffer.wrap(row.getAs[Array[Byte]](i))
          case _ => row.get(i).asInstanceOf[AnyRef]
        }
      rec.put(i, v)
      i += 1
    }
    rec
  }

  private def toRow(rec: GenericRecord, fields: Array[StructField]): Row = {
    val vals = new Array[Any](fields.length)
    var i = 0
    while (i < fields.length) {
      val raw = rec.get(i)
      vals(i) =
        if (raw == null) null
        else fields(i).dataType match {
          case StringType => raw.toString
          case DateType =>
            java.sql.Date.valueOf(LocalDate.ofEpochDay(raw.asInstanceOf[Int].toLong))
          case TimestampType =>
            val us = raw.asInstanceOf[Long]
            val ts = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
            ts.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
            ts
          case TimestampNTZType =>
            val us = raw.asInstanceOf[Long]
            java.time.LocalDateTime.ofEpochSecond(
              Math.floorDiv(us, 1000000L),
              (Math.floorMod(us, 1000000L) * 1000L).toInt,
              java.time.ZoneOffset.UTC)
          case BinaryType =>
            val bb = raw.asInstanceOf[ByteBuffer]
            val a = new Array[Byte](bb.remaining()); bb.duplicate().get(a); a
          case _ => raw
        }
      i += 1
    }
    Row.fromSeq(vals.toIndexedSeq)
  }
}
