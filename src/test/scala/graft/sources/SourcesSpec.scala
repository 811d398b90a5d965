package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkTestHarness
import scala.jdk.CollectionConverters._

class IngestSpec extends AnyFunSuite {
  private lazy val spark = SparkTestHarness.spark
  import Ingest._

  private def df(rows: (Long, String)*) = {
    val schema = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
    spark.createDataFrame(rows.map(r => Row(r._1, r._2)).asJava, schema)
  }

  private def fresh(name: String): String = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    name
  }

  test("create if missing; FAIL if if_not_exist=FAIL") {
    val t = fresh("ing_create")
    val r = ingest(spark, df(1L -> "a"), t)
    assert(r.created && r.rowsIngested == 1)
    val t2 = fresh("ing_nocreate")
    intercept[IllegalStateException](
      ingest(spark, df(1L -> "a"), t2, createIfMissing = false))
  }

  test("if_exists=FAIL refuses; APPEND aligns by name; REPLACE drops") {
    val t = fresh("ing_modes")
    ingest(spark, df(1L -> "a"), t)
    intercept[IllegalStateException](ingest(spark, df(2L -> "b"), t, IfExists.Fail))
    // by-name append with reordered + missing columns
    val reordered = spark.createDataFrame(
      List(Row("c", 3L)).asJava,
      StructType(Seq(StructField("name", StringType), StructField("id", LongType))))
    ingest(spark, reordered, t, IfExists.Append)
    assert(spark.table(t).count() == 2)
    val missingCol = spark.createDataFrame(List(Row(4L)).asJava,
      StructType(Seq(StructField("id", LongType))))
    ingest(spark, missingCol, t, IfExists.Append)
    assert(spark.table(t).filter(col("name").isNull).count() == 1)
    // unknown columns are an error
    val extraCol = spark.createDataFrame(List(Row(5L, "x", 1)).asJava,
      StructType(Seq(StructField("id", LongType), StructField("name", StringType),
        StructField("bogus", IntegerType))))
    intercept[IllegalArgumentException](ingest(spark, extraCol, t, IfExists.Append))
    // replace
    ingest(spark, df(9L -> "z"), t, IfExists.Replace)
    assert(spark.table(t).collect().map(_.getLong(0)).toSeq == Seq(9L))
  }

  test("temporary ingest is session-scoped") {
    val r = ingest(spark, df(1L -> "tmp"), "ing_temp_view", temporary = true)
    assert(r.created)
    assert(spark.table("ing_temp_view").count() == 1)
    assert(spark.newSession().catalog.tableExists("ing_temp_view") == false)
  }
}

class ArrowIOSpec extends AnyFunSuite {
  private lazy val spark = SparkTestHarness.spark

  test("atomic types round-trip DataFrame -> Arrow IPC -> DataFrame with nulls") {
    val schema = StructType(Seq(
      StructField("b", BooleanType), StructField("i", IntegerType),
      StructField("l", LongType), StructField("f", FloatType),
      StructField("d", DoubleType), StructField("s", StringType),
      StructField("bin", BinaryType), StructField("dt", DateType),
      StructField("dec", DecimalType(15, 2))))
    val rows = List(
      Row(true, 1, 2L, 1.5f, 2.5, "hello", Array[Byte](1, 2), java.sql.Date.valueOf("2024-01-15"),
        new java.math.BigDecimal("123.45")),
      Row(null, null, null, null, null, null, null, null, null))
    val df = spark.createDataFrame(rows.asJava, schema)
    val bytes = ArrowIO.toArrowStream(df)
    val back = ArrowIO.fromArrowStream(spark, bytes)
    assert(back.schema.map(f => (f.name, f.dataType)) == df.schema.map(f => (f.name, f.dataType)))
    val (orig, rt) = (df.collect(), back.collect())
    assert(rt.length == 2)
    assert(rt(0).getBoolean(0) == true && rt(0).getInt(1) == 1 && rt(0).getString(5) == "hello")
    assert(rt(0).getAs[Array[Byte]](6).toSeq == Seq[Byte](1, 2))
    assert(rt(0).getDate(7) == orig(0).getDate(7))
    assert(rt(0).getDecimal(8).compareTo(orig(0).getDecimal(8)) == 0)
    assert((0 until 9).forall(rt(1).isNullAt))
  }

  test("GeoArrow WKB extension metadata round-trips through the Arrow stream") {
    // declared-parity shim for the reference's GeoArrow export
    // (gizmosql_library.cpp:820-827): geometry = WKB bytes in a BINARY
    // column tagged with the Arrow extension keys. POINT(1 2) as WKB:
    val wkbPoint = Array[Byte](1, 1, 0, 0, 0,
      0, 0, 0, 0, 0, 0, -16, 63, // 1.0 LE
      0, 0, 0, 0, 0, 0, 0, 64) // 2.0 LE
    val geoMeta = new MetadataBuilder()
      .putString("ARROW:extension:name", "geoarrow.wkb")
      .putString("ARROW:extension:metadata", """{"crs": "OGC:CRS84"}""")
      .build()
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("geom", BinaryType, nullable = true, metadata = geoMeta)))
    val df = spark.createDataFrame(
      List(Row(1L, wkbPoint), Row(2L, null)).asJava, schema)
    // the Arrow field must carry the extension tags (what a GeoArrow-aware
    // client keys on) ...
    val arrowField = graft.types.TypeMapping.toArrowSchema(schema).getFields.get(1)
    assert(arrowField.getMetadata.get("ARROW:extension:name") == "geoarrow.wkb")
    assert(arrowField.getMetadata.get("ARROW:extension:metadata").contains("OGC:CRS84"))
    // ... untagged columns must NOT grow metadata keys
    assert(graft.types.TypeMapping.toArrowSchema(schema)
      .getFields.get(0).getMetadata.isEmpty)
    // full stream round-trip preserves tags AND bytes
    val back = ArrowIO.fromArrowStream(spark, ArrowIO.toArrowStream(df))
    val f = back.schema.fields(1)
    assert(f.dataType == BinaryType)
    assert(f.metadata.getString("ARROW:extension:name") == "geoarrow.wkb")
    assert(f.metadata.getString("ARROW:extension:metadata").contains("OGC:CRS84"))
    val rows = back.orderBy("id").collect()
    assert(rows(0).getAs[Array[Byte]](1).toSeq == wkbPoint.toSeq)
    assert(rows(1).isNullAt(1))
  }

  test("GeoArrow tags survive INGEST into a table and re-export " +
      "(test_geoarrow.cpp:138-245 round-trip; r16 verdict #4)") {
    val wkbPoint = Array[Byte](1, 1, 0, 0, 0,
      0, 0, 0, 0, 0, 0, -16, 63,
      0, 0, 0, 0, 0, 0, 0, 64)
    val geoMeta = new MetadataBuilder()
      .putString("ARROW:extension:name", "geoarrow.wkb")
      .putString("ARROW:extension:metadata", """{"crs": "OGC:CRS84"}""")
      .build()
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("geom", BinaryType, nullable = true, metadata = geoMeta)))
    val stream = ArrowIO.toArrowStream(spark.createDataFrame(
      List(Row(1L, wkbPoint), Row(2L, null)).asJava, schema))
    spark.sql("DROP TABLE IF EXISTS geo_ingest_rt")
    try {
      // ingest the TAGGED stream through the bulk-ingest path into a table
      Ingest.ingest(spark, ArrowIO.fromArrowStream(spark, stream),
        "geo_ingest_rt"): Unit
      // the persisted table column keeps the extension metadata
      val tf = spark.table("geo_ingest_rt").schema.fields.find(_.name == "geom").get
      assert(tf.metadata.getString("ARROW:extension:name") == "geoarrow.wkb",
        "extension tag must persist through the table schema")
      // a SQL read of the table re-exports with the tag intact
      val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
        new java.io.ByteArrayInputStream(
          ArrowIO.toArrowStream(spark.sql("SELECT id, geom FROM geo_ingest_rt"))),
        new org.apache.arrow.memory.RootAllocator())
      try {
        val geomField = reader.getVectorSchemaRoot.getSchema.getFields.asScala
          .find(_.getName == "geom").get
        assert(geomField.getMetadata.get("ARROW:extension:name") == "geoarrow.wkb")
        assert(geomField.getMetadata.get("ARROW:extension:metadata").contains("OGC:CRS84"))
      } finally reader.close()
      // and the bytes are intact after the table hop
      val back = spark.sql("SELECT geom FROM geo_ingest_rt WHERE id = 1")
        .collect()(0).getAs[Array[Byte]](0)
      assert(back.toSeq == wkbPoint.toSeq)
    } finally spark.sql("DROP TABLE IF EXISTS geo_ingest_rt")
  }

  test("array columns and real table data round-trip") {
    graft.Tables.ensure(spark, SparkTestHarness.sfDir)
    val emb = spark.table("embeddings").limit(5)
    val back = ArrowIO.fromArrowStream(spark, ArrowIO.toArrowStream(emb))
    assert(back.count() == 5)
    val a = emb.orderBy("vec_id").collect().map(_.getSeq[Float](1))
    val b = back.orderBy("vec_id").collect().map(_.getSeq[Float](1))
    assert(a.zip(b).forall { case (x, y) => x == y })
  }

  test("struct and map columns round-trip") {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("st", StructType(Seq(StructField("x", IntegerType), StructField("y", StringType)))),
      StructField("mp", MapType(StringType, IntegerType))))
    val rows = List(
      Row(1L, Row(7, "seven"), Map("a" -> 1, "b" -> 2)),
      Row(2L, Row(8, null), Map("c" -> 3, "nullv" -> null)),
      Row(3L, null, null))
    val df = spark.createDataFrame(rows.asJava, schema)
    val back = ArrowIO.fromArrowStream(spark, ArrowIO.toArrowStream(df)).orderBy("id").collect()
    assert(back(0).getStruct(1) == Row(7, "seven"))
    assert(back(0).getMap[String, Int](2) == Map("a" -> 1, "b" -> 2))
    assert(back(1).getStruct(1).isNullAt(1))
    assert(back(1).getMap[String, Any](2) == Map("c" -> 3, "nullv" -> null)) // null map value preserved
    assert(back(2).isNullAt(1) && back(2).isNullAt(2))
  }

  test("timestamps round-trip at microsecond precision") {
    val schema = StructType(Seq(StructField("ts", TimestampNTZType)))
    val t = java.time.LocalDateTime.of(2024, 1, 15, 10, 30, 5, 123456000)
    val df = spark.createDataFrame(List(Row(t)).asJava, schema)
    val back = ArrowIO.fromArrowStream(spark, ArrowIO.toArrowStream(df))
    assert(back.collect().head.getAs[java.time.LocalDateTime](0) == t)
  }

  test("batching splits large results without losing rows") {
    val df = spark.range(0, 10000).select(col("id"), (col("id") * 2).as("dbl"))
    val bytes = ArrowIO.toArrowStream(df, batchSize = 512)
    val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
      new java.io.ByteArrayInputStream(bytes), new org.apache.arrow.memory.RootAllocator())
    val batchRows = try Iterator.continually(reader.loadNextBatch()).takeWhile(identity)
      .map(_ => reader.getVectorSchemaRoot.getRowCount).toList finally reader.close()
    assert(batchRows.forall(_ <= 512), batchRows)
    assert(batchRows.sum == 10000)
    val back = ArrowIO.fromArrowStream(spark, bytes)
    assert(back.count() == 10000)
    assert(back.agg(sum("dbl")).collect().head.getLong(0) == (0L until 10000L).map(_ * 2).sum)
  }

  test("nested values of every element type round-trip through export and import") {
    val df = spark.sql("""SELECT
      array(DATE '2024-01-15', NULL) AS dates,
      array(array(1, 2), NULL, array(3)) AS nested,
      array(CAST(1.25 AS DECIMAL(10, 2)), CAST(-7.5 AS DECIMAL(10, 2))) AS decs,
      array(named_struct('x', 1, 's', 'a'), named_struct('x', 2, 's', CAST(NULL AS STRING))) AS structs,
      map('k', array(1.5D, NULL), 'e', CAST(array() AS ARRAY<DOUBLE>)) AS m,
      array(TIMESTAMP_NTZ '2024-01-15 10:30:05.123456') AS tss,
      TIMESTAMP '2024-01-15 10:30:05.123456' AS ts""")
    val back = ArrowIO.fromArrowStream(spark, ArrowIO.toArrowStream(df))
    assert(back.schema.map(_.dataType) == df.schema.map(_.dataType))
    assert(back.collect().toSeq == df.collect().toSeq)
  }

  test("ingest reads every Arrow type TypeMapping declares, with its widening") {
    import org.apache.arrow.vector._
    import org.apache.arrow.vector.complex.{FixedSizeListVector, ListVector}
    import org.apache.arrow.vector.types.{DateUnit, FloatingPointPrecision, IntervalUnit, TimeUnit}
    import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema}
    def field(name: String, t: ArrowType, children: Field*) =
      new Field(name, FieldType.nullable(t), children.asJava)
    val schema = new Schema(Seq(
      field("u8", new ArrowType.Int(8, false)),
      field("u64", new ArrowType.Int(64, false)),
      field("ts_ns", new ArrowType.Timestamp(TimeUnit.NANOSECOND, null)),
      field("t_us", new ArrowType.Time(TimeUnit.MICROSECOND, 64)),
      field("ls", ArrowType.LargeUtf8.INSTANCE),
      field("fsb", new ArrowType.FixedSizeBinary(3)),
      field("fsl", new ArrowType.FixedSizeList(2),
        field("item", new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE))),
      field("dur", new ArrowType.Duration(TimeUnit.MICROSECOND)),
      field("dates", ArrowType.List.INSTANCE, field("item", new ArrowType.Date(DateUnit.DAY))),
      field("d64", new ArrowType.Date(DateUnit.MILLISECOND)),
      field("t_s", new ArrowType.Time(TimeUnit.SECOND, 32)),
      field("t_ms", new ArrowType.Time(TimeUnit.MILLISECOND, 32)),
      field("t_ns", new ArrowType.Time(TimeUnit.NANOSECOND, 64)),
      field("dec256", new ArrowType.Decimal(20, 2, 256)),
      field("ivl", new ArrowType.Interval(IntervalUnit.DAY_TIME))).asJava)
    val allocator = new org.apache.arrow.memory.RootAllocator()
    val root = VectorSchemaRoot.create(schema, allocator)
    val out = new java.io.ByteArrayOutputStream()
    try {
      root.allocateNew()
      root.getVector("u8").asInstanceOf[UInt1Vector].setSafe(0, 255)
      root.getVector("u64").asInstanceOf[UInt8Vector].setSafe(0, 42L)
      root.getVector("ts_ns").asInstanceOf[TimeStampNanoVector].setSafe(0, 1705314605123456789L)
      root.getVector("t_us").asInstanceOf[TimeMicroVector].setSafe(0, 37805123456L)
      root.getVector("ls").asInstanceOf[LargeVarCharVector].setSafe(0, "héllo".getBytes("UTF-8"))
      root.getVector("fsb").asInstanceOf[FixedSizeBinaryVector].setSafe(0, Array[Byte](1, 2, 3))
      val fsl = root.getVector("fsl").asInstanceOf[FixedSizeListVector]
      fsl.setNotNull(0)
      val floats = fsl.getDataVector.asInstanceOf[Float4Vector]
      floats.setSafe(0, 1.5f); floats.setSafe(1, 2.5f)
      root.getVector("dur").asInstanceOf[DurationVector].setSafe(0, 90000000L)
      val dates = root.getVector("dates").asInstanceOf[ListVector]
      dates.startNewValue(0)
      dates.getDataVector.asInstanceOf[DateDayVector].setSafe(0, 19737)
      dates.endValue(0, 1)
      root.getVector("d64").asInstanceOf[DateMilliVector].setSafe(0, 19737L * 86400000L)
      root.getVector("t_s").asInstanceOf[TimeSecVector].setSafe(0, 37805)
      root.getVector("t_ms").asInstanceOf[TimeMilliVector].setSafe(0, 37805123)
      root.getVector("t_ns").asInstanceOf[TimeNanoVector].setSafe(0, 37805123456789L)
      root.getVector("dec256").asInstanceOf[Decimal256Vector].setSafe(0, new java.math.BigDecimal("12345.67"))
      root.getVector("ivl").asInstanceOf[IntervalDayVector].setSafe(0, 1, 500)
      (0 until root.getFieldVectors.size).foreach(c => root.getVector(c).setNull(1))
      root.setRowCount(2)
      val writer = new org.apache.arrow.vector.ipc.ArrowStreamWriter(root, null, out)
      writer.start(); writer.writeBatch(); writer.end(); writer.close()
    } finally { root.close(); allocator.close() }
    val back = ArrowIO.fromArrowStream(spark, out.toByteArray)
    assert(back.schema.map(_.dataType) == Seq(ShortType, LongType, TimestampNTZType, TimestampNTZType,
      StringType, BinaryType, ArrayType(FloatType), DayTimeIntervalType(), ArrayType(DateType),
      DateType, TimestampNTZType, TimestampNTZType, TimestampNTZType, DecimalType(20, 2),
      DayTimeIntervalType()))
    val rows = back.collect()
    val r = rows(0)
    assert(r.getShort(0) == 255 && r.getLong(1) == 42L)
    assert(r.get(2) == java.time.LocalDateTime.of(2024, 1, 15, 10, 30, 5, 123456000))
    assert(r.get(3) == java.time.LocalDateTime.of(1970, 1, 1, 10, 30, 5, 123456000))
    assert(r.getString(4) == "héllo")
    assert(r.getAs[Array[Byte]](5).toSeq == Seq[Byte](1, 2, 3))
    assert(r.getSeq[Float](6) == Seq(1.5f, 2.5f))
    assert(r.get(7) == java.time.Duration.ofSeconds(90))
    assert(r.getSeq[java.sql.Date](8) == Seq(java.sql.Date.valueOf("2024-01-15")))
    assert(r.getDate(9) == java.sql.Date.valueOf("2024-01-15"))
    assert(r.get(10) == java.time.LocalDateTime.of(1970, 1, 1, 10, 30, 5))
    assert(r.get(11) == java.time.LocalDateTime.of(1970, 1, 1, 10, 30, 5, 123000000))
    assert(r.get(12) == java.time.LocalDateTime.of(1970, 1, 1, 10, 30, 5, 123456000))
    assert(r.getDecimal(13) == new java.math.BigDecimal("12345.67"))
    assert(r.get(14) == java.time.Duration.ofDays(1).plusMillis(500))
    assert((0 until 15).forall(rows(1).isNullAt))
  }
}
