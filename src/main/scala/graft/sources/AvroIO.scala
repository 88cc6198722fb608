package graft.sources

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter, SeekableByteArrayInput}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Native Avro container read/write on the Avro CORE libraries that ship
  * inside Spark's jars (avro-1.12; the separate spark-avro module is not
  * on this classpath, same situation as XLSX/PDF — so the engine brings
  * its own thin reader, like [[XlsxText]]/[[PdfText]]).
  *
  * Read path mirrors [[Ingest.readXlsx]]'s contract: a `binaryFile`
  * scan parallel BY FILE; the driver inspects only the
  * lexicographically first file to fix the schema (the bounded
  * sampling contract csv inference uses), executors then decode each
  * file's GenericRecords with `DataFileReader`. Supported field types:
  * the Avro primitives (boolean/int/long/float/double/string/bytes)
  * and their `[null, T]` nullable unions — the record shapes a lake's
  * row-oriented landing zone actually contains. Logical types
  * (decimal/timestamp) read as their raw underlying primitive —
  * documented seam, cast at the edge.
  *
  * Write path: one Avro container file per partition via Hadoop
  * FileSystem streams (works for file:// here and any configured
  * scheme on a cluster), then a driver-side `_SUCCESS` marker. Each
  * file embeds the full writer schema, so round-trips are
  * self-describing.
  *
  * At 100 TB both directions stay embarrassingly parallel by file;
  * the only driver-side work is the 1-file schema sniff and the
  * marker write.
  */
object AvroIO {

  private def toSparkType(s: Schema): (DataType, Boolean) = s.getType match {
    case Schema.Type.BOOLEAN => (BooleanType, false)
    case Schema.Type.INT     => (IntegerType, false)
    case Schema.Type.LONG    => (LongType, false)
    case Schema.Type.FLOAT   => (FloatType, false)
    case Schema.Type.DOUBLE  => (DoubleType, false)
    case Schema.Type.STRING  => (StringType, false)
    case Schema.Type.BYTES   => (BinaryType, false)
    case Schema.Type.UNION =>
      val branches = s.getTypes.asScala.filter(_.getType != Schema.Type.NULL)
      require(branches.size == 1,
        s"unsupported avro union ${s}: only [null, T] unions are supported")
      (toSparkType(branches.head)._1, true)
    case other =>
      throw new IllegalArgumentException(
        s"unsupported avro type $other (supported: primitives + [null, T] unions)")
  }

  private def sparkSchemaOf(avro: Schema): StructType = {
    require(avro.getType == Schema.Type.RECORD, s"top-level avro type must be record, got $avro")
    StructType(avro.getFields.asScala.toSeq.map { f =>
      val (dt, nullable) = toSparkType(f.schema())
      StructField(f.name(), dt, nullable)
    })
  }

  private def convertIn(v: Any): Any = v match {
    case null                => null
    case u: org.apache.avro.util.Utf8 => u.toString
    case b: java.nio.ByteBuffer =>
      val a = new Array[Byte](b.remaining()); b.duplicate().get(a); a
    case x => x
  }

  /** Decode one container's records RESOLVED against the directory's
    * reader schema (Avro schema resolution matches fields BY NAME and
    * fails loudly on incompatibles) — decoding each file with only its
    * own embedded writer schema and then mapping columns by position
    * would silently swap values the moment one producer reordered its
    * fields.
    */
  private def decode(bytes: Array[Byte], readerSchemaJson: String): Iterator[GenericRecord] = {
    val readerSchema = new Schema.Parser().parse(readerSchemaJson)
    // single-schema ctor sets the EXPECTED schema; DataFileReader then
    // installs each file's writer schema as the actual → resolution
    val rdr = new DataFileReader[GenericRecord](
      new SeekableByteArrayInput(bytes),
      new GenericDatumReader[GenericRecord](readerSchema))
    new Iterator[GenericRecord] {
      def hasNext: Boolean = { val h = rdr.hasNext; if (!h) rdr.close(); h }
      def next(): GenericRecord = rdr.next()
    }
  }

  /** Read a directory (or single file) of Avro container files. */
  def readAvro(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val bin = spark.read.format("binaryFile").load(path)
      .select(col("path"), col("content"))
    // two bounded steps, not one: selecting ONLY `path` lets the
    // binaryFile scan prune the content column, so finding the first
    // file never reads any payload bytes; only that one file's bytes
    // are then fetched for the schema sniff
    val firstPath = bin.select(col("path")).orderBy(col("path")).limit(1)
      .as[String].head()
    val firstBytes = bin.filter(col("path") === firstPath)
      .select(col("content")).as[Array[Byte]].head()
    val avroSchema = {
      val rdr = new DataFileReader[GenericRecord](
        new SeekableByteArrayInput(firstBytes), new GenericDatumReader[GenericRecord]())
      try rdr.getSchema finally rdr.close()
    }
    val sparkSchema = sparkSchemaOf(avroSchema)
    val schemaJson = avroSchema.toString
    val n = sparkSchema.size
    val rows = bin.select(col("content")).as[Array[Byte]].rdd.flatMap { bytes =>
      decode(bytes, schemaJson).map { rec =>
        Row.fromSeq(Array.tabulate(n)(i => convertIn(rec.get(i))).toSeq)
      }
    }
    spark.createDataFrame(rows, sparkSchema)
  }

  private def toAvroSchema(st: StructType, name: String): Schema = {
    val fields = st.fields.map { f =>
      val base = f.dataType match {
        case BooleanType => Schema.create(Schema.Type.BOOLEAN)
        case IntegerType => Schema.create(Schema.Type.INT)
        case LongType    => Schema.create(Schema.Type.LONG)
        case FloatType   => Schema.create(Schema.Type.FLOAT)
        case DoubleType  => Schema.create(Schema.Type.DOUBLE)
        case StringType  => Schema.create(Schema.Type.STRING)
        case BinaryType  => Schema.create(Schema.Type.BYTES)
        case other => throw new IllegalArgumentException(
          s"unsupported spark type $other for avro sink (flatten/cast at the edge)")
      }
      val sch =
        if (f.nullable) Schema.createUnion(java.util.List.of(Schema.create(Schema.Type.NULL), base))
        else base
      new Schema.Field(f.name, sch, null, null)
    }
    Schema.createRecord(name, null, "graft.avro", false, java.util.List.of(fields: _*))
  }

  private def convertOut(v: Any): Any = v match {
    case null              => null
    case a: Array[Byte]    => java.nio.ByteBuffer.wrap(a)
    case x                 => x
  }

  /** Write the frame as one Avro container file per partition
    * (overwrite semantics: the target directory is cleared first —
    * without that, a rewrite from a NARROWER partitioning would leave
    * stale part files from the previous run alive under a fresh
    * `_SUCCESS`, silently mixing old and new rows on read-back).
    */
  def writeAvro(df: DataFrame, path: String): Unit = {
    val st = df.schema
    val schemaJson = toAvroSchema(st, "row").toString
    val n = st.size
    val driverConf = graft.queries.LakeFs.conf(df.sparkSession)
    val target = new org.apache.hadoop.fs.Path(path)
    val tfs = target.getFileSystem(driverConf)
    if (tfs.exists(target)) tfs.delete(target, true)
    tfs.mkdirs(target)
    // executors must see the SESSION's Hadoop settings (spark.hadoop.*
    // object-store credentials etc.) — a bare new Configuration() on
    // the executor would drop them; Configuration isn't serializable,
    // so ship the entries and rebuild
    val confEntries = driverConf.iterator().asScala
      .map(e => (e.getKey, e.getValue)).toArray
    df.rdd.mapPartitionsWithIndex { (pid, it) =>
      if (it.isEmpty) Iterator.empty
      else {
        val schema = new Schema.Parser().parse(schemaJson)
        val conf = new org.apache.hadoop.conf.Configuration(false)
        confEntries.foreach { case (k, v) => conf.set(k, v) }
        val p = new org.apache.hadoop.fs.Path(f"$path%s/part-$pid%05d.avro")
        val fs = p.getFileSystem(conf)
        val out = fs.create(p, true)
        val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
        w.create(schema, out)
        var c = 0L
        it.foreach { row =>
          val rec = new GenericData.Record(schema)
          var i = 0
          while (i < n) { rec.put(i, convertOut(row.get(i))); i += 1 }
          w.append(rec); c += 1
        }
        w.close()
        Iterator.single(c)
      }
    }.count()
    // driver-side completion marker, same convention as hadoop sinks
    tfs.create(new org.apache.hadoop.fs.Path(target, "_SUCCESS"), true).close()
  }
}
