package graft.substrate

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

/** Driver-side reads of METADATA-scale parquet tables — manifests and
  * meta rows — WITHOUT scheduling a Spark job. A real table format's
  * commit path reads its manifests with plain file I/O; resolving an
  * O(#files) manifest through a cluster job pays full job-scheduling
  * latency per metadata lookup, and a derived publish chains several
  * such lookups (ancestry gate, provenance stamp, unreferenced sweep,
  * version listing) — the r13 bench measured the tiny-job storm
  * dominating the stored-index entries' walls. At 100 TB the same
  * property matters for a different reason: commit/serve planning must
  * not occupy cluster resources or queue behind running queries.
  *
  * Scope: SIMPLE scalar schemas only (strings and ints/longs, nullable)
  * — the manifest's (file, cell) and the meta row. Corpus-sized tables
  * and array-typed tables (codes, codebook, centroids) stay Spark
  * scans; relational manifest ALGEBRA (vacuum anti-joins, the
  * DataFrame-typed changedCells split) stays DataFrame — this is only
  * the bounded driver-side collect path, done without a job. The one
  * exception is [[readParquet]]: every explicit-file DATA scan of the
  * engine resolves its schema here, from the footers, so planning a
  * read never schedules Spark's schema-inference job.
  */
private[graft] object MetaIo {

  /** The `*.parquet` files directly under `dir`, their paths fully
    * QUALIFIED (scheme + authority): a persisted manifest row must
    * resolve against the filesystem it was listed on, not the reading
    * session's default FS. Listing order; empty when `dir` is absent.
    */
  def parquetFiles(conf: Configuration, dir: String)
      : Seq[org.apache.hadoop.fs.FileStatus] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    val all =
      try fs.listStatus(p).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    all.filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map { s => s.setPath(fs.makeQualified(s.getPath)); s }
  }

  /** `f` over `xs`, in order, on a bounded pool (≤16 threads): footer
    * reads are independent metadata I/O, so on a remote store their
    * latencies overlap instead of adding up, while the driver holds only
    * the results. A single item runs inline. A failure rethrows its own
    * cause.
    */
  def inParallel[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.size <= 1) xs.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, xs.size))
      try xs.map(x => pool.submit(new java.util.concurrent.Callable[B] {
          def call(): B = f(x)
        })).map { fut =>
          try fut.get()
          catch { case e: java.util.concurrent.ExecutionException =>
            throw e.getCause }
        }
      finally pool.shutdown()
    }

  /** A DataFrame over the explicit parquet `files`, planned WITHOUT a
    * Spark job: `spark.read.parquet(files)` runs Spark's schema-inference
    * job (one task per footer batch) before it returns, even to read one
    * footer. Here the footers are read on the driver and converted with
    * Spark's own footer → schema code under the session's parquet confs,
    * so the relation returned — `spark.read.schema(s)` over the same
    * files and options — is the one Spark's inference would have built:
    *  - `mergeSchema` on: every footer, merged in path order by Spark's
    *    `StructType.merge` (an incompatible pair fails as it does there);
    *  - `mergeSchema` off: the one footer Spark samples — the first file
    *    by qualified path.
    * The session's `spark.sql.parquet.mergeSchema` default never applies:
    * callers state the merge. An empty list has no schema and fails.
    */
  def readParquet(spark: org.apache.spark.sql.SparkSession,
      files: Seq[String], mergeSchema: Boolean)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.GraftParquetSchema
    require(files.nonEmpty,
      "readParquet needs at least one file — an empty scan has no schema")
    val options = Map("mergeSchema" -> mergeSchema.toString)
    val conf = GraftParquetSchema.hadoopConf(spark, options)
    val qualified = files.map { f =>
      val p = new Path(f)
      p.getFileSystem(conf).makeQualified(p)
    }.sortBy(_.toString)
    val converter = GraftParquetSchema.converter(spark)
    val schemas = inParallel(
        if (mergeSchema) qualified.distinct else qualified.take(1)) { p =>
      val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf),
        org.apache.parquet.format.converter.ParquetMetadataConverter
          .SKIP_ROW_GROUPS)
      org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
        .readSchemaFromFooter(
          new org.apache.parquet.hadoop.Footer(p, footer), converter)
    }
    spark.read
      .schema(schemas.reduceLeft(GraftParquetSchema.merge(spark, _, _)))
      .options(options).parquet(files: _*)
  }

  /** One parquet file's schema, from its FOOTER, and all its rows as
    * example Groups — one open per file, opened from the listing's
    * status. The footer carries the schema even when the file holds no
    * rows.
    */
  private def readFile(conf: Configuration,
      f: org.apache.hadoop.fs.FileStatus)
      : (org.apache.parquet.schema.MessageType, Seq[Group]) = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
    try rowsFrom(reader)
    finally reader.close()
  }

  /** An open file's footer schema and every row it holds. */
  private def rowsFrom(reader: org.apache.parquet.hadoop.ParquetFileReader)
      : (org.apache.parquet.schema.MessageType, Seq[Group]) = {
    val schema = reader.getFooter.getFileMetaData.getSchema
    val io = new org.apache.parquet.io.ColumnIOFactory().getColumnIO(schema)
    val rows = Iterator.continually(reader.readNextRowGroup())
      .takeWhile(_ != null).flatMap { store =>
        val rr = io.getRecordReader(store,
          new org.apache.parquet.example.data.simple.convert
            .GroupRecordConverter(schema))
        Iterator.fill(store.getRowCount.toInt)(rr.read())
      }.toVector
    (schema, rows)
  }

  /** Every row of the parquet `files` as Spark (schema, rows) under one
    * merged schema ([[readRowsMerged]]), read on the driver with no Spark
    * job — or None, before any row is read, when their footers hold more
    * than `maxRows` rows in all or a column lies outside the metadata
    * type universe: the caller then reads them through Spark
    * ([[readParquet]]).
    */
  def readRowsUpTo(conf: Configuration, files: Seq[String], maxRows: Long)
      : Option[(org.apache.spark.sql.types.StructType,
        Seq[org.apache.spark.sql.Row])] = {
    import scala.jdk.CollectionConverters._
    val readers = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.parquet.hadoop.ParquetFileReader]
    try {
      files.foreach(f => readers += org.apache.parquet.hadoop.ParquetFileReader
        .open(org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new Path(f), conf)))
      val n = readers.map(_.getFooter.getBlocks.asScala.map(_.getRowCount)
        .sum).sum
      if (n > maxRows || !readers.forall(_.getFooter.getFileMetaData
          .getSchema.getFields.asScala.forall(sparkType(_).isRight))) None
      else Some(rowsOf(readers.map(rowsFrom).toSeq, files.mkString(",")))
    } finally readers.foreach(_.close())
  }

  /** All rows of every `*.parquet` file directly under `dir`, as
    * parquet example Groups. Empty when the directory is absent.
    */
  def groups(conf: Configuration, dir: String): Seq[Group] =
    readDir(conf, dir).flatMap(_._2)

  /** Every `*.parquet` file directly under `dir`, each as its footer
    * schema and its rows — one open per file, the input of both
    * [[groups]] and [[rowsOf]].
    */
  def readDir(conf: Configuration, dir: String)
      : Seq[(org.apache.parquet.schema.MessageType, Seq[Group])] =
    parquetFiles(conf, dir).map(readFile(conf, _))

  /** Can [[writeRows]] carry this schema? Scalar commit-metadata types
    * — long/int/string/binary/boolean/double, the full universe the
    * manifest writers produce (version/file/row_count/bounds/blooms/
    * kind/delete_key/added_v/batch_tag) — plus ARRAY<DOUBLE> for the
    * vector store's skinny tables (codebook/centroid rows, r17).
    * Callers with any other column type keep the Spark write path.
    */
  def writableSchema(schema: org.apache.spark.sql.types.StructType)
      : Boolean = {
    import org.apache.spark.sql.types._
    schema.fields.forall(_.dataType match {
      case LongType | IntegerType | StringType | BinaryType |
           BooleanType | DoubleType => true
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
  }

  /** WRITE metadata-scale rows as one parquet file + `_SUCCESS` marker
    * under `dir`, DRIVER-SIDE without a Spark job — the write half of
    * this object's discipline (r17; r16 deferred it): a real table
    * format's commit path writes its manifest with plain file I/O, and
    * profiling showed every snapshot/vector commit paying a full Spark
    * write job (planning + task + committer) to persist O(#files)
    * driver-resident rows. Types map exactly as Spark's own parquet
    * writer maps them (INT64/INT32/BINARY-UTF8/BINARY/BOOLEAN/DOUBLE,
    * all `optional`), so the files stay readable by BOTH consumers of
    * manifests — [[groups]] here and `spark.read.parquet` (incl.
    * mergeSchema unions with Spark-written manifests from older
    * versions). Callers must pre-check [[writableSchema]].
    */
  def writeRows(conf: Configuration, dir: String,
      schema: org.apache.spark.sql.types.StructType,
      rows: Seq[org.apache.spark.sql.Row]): Unit = {
    import org.apache.spark.sql.types._
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    require(writableSchema(schema),
      s"writeRows cannot carry schema $schema — use the Spark writer")
    val fields = schema.fields.map { f =>
      (f.dataType match {
        case LongType => Types.optional(INT64)
        case IntegerType => Types.optional(INT32)
        case StringType =>
          Types.optional(BINARY).as(LogicalTypeAnnotation.stringType())
        case BinaryType => Types.optional(BINARY)
        case BooleanType => Types.optional(BOOLEAN)
        case DoubleType => Types.optional(DOUBLE)
        case ArrayType(DoubleType, containsNull) =>
          // the standard 3-level LIST layout Spark's writer produces
          // (`optional group f (LIST) { repeated group list { element
          // } }`), element required/optional per containsNull so the
          // read-back Spark schema matches the Spark-written one
          if (containsNull)
            Types.optionalList().optionalElement(DOUBLE)
          else Types.optionalList().requiredElement(DOUBLE)
        case other => throw new IllegalStateException(other.toString)
      }).named(f.name)
    }
    val msg = new org.apache.parquet.schema.MessageType("spark_schema",
      fields: _*)
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    fs.mkdirs(p)
    val file = new Path(p, "part-00000-graft-meta.snappy.parquet")
    val wconf = new Configuration(conf)
    org.apache.parquet.hadoop.example.GroupWriteSupport
      .setSchema(msg, wconf)
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
        .fromPath(file, wconf))
      .withConf(wconf)
      .withType(msg)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    try {
      val factory =
        new org.apache.parquet.example.data.simple.SimpleGroupFactory(msg)
      rows.foreach { r =>
        val g = factory.newGroup()
        var i = 0
        while (i < schema.fields.length) {
          if (!r.isNullAt(i)) schema.fields(i).dataType match {
            case LongType => g.append(schema.fields(i).name, r.getLong(i))
            case IntegerType => g.append(schema.fields(i).name, r.getInt(i))
            case StringType => g.append(schema.fields(i).name,
              org.apache.parquet.io.api.Binary.fromString(r.getString(i)))
            case BinaryType => g.append(schema.fields(i).name,
              org.apache.parquet.io.api.Binary.fromConstantByteArray(
                r.getAs[Array[Byte]](i)))
            case BooleanType =>
              g.append(schema.fields(i).name, r.getBoolean(i))
            case DoubleType =>
              g.append(schema.fields(i).name, r.getDouble(i))
            case ArrayType(DoubleType, _) =>
              // an empty array adds the LIST group with zero `list`
              // entries — distinct from null (group absent), matching
              // Spark's writer
              val lg = g.addGroup(schema.fields(i).name)
              r.getSeq[Any](i).foreach { v =>
                val el = lg.addGroup("list")
                if (v != null)
                  el.append("element", v.asInstanceOf[Double])
              }
            case other => throw new IllegalStateException(other.toString)
          }
          i += 1
        }
        writer.write(g)
      }
    } finally writer.close()
    // the commit-protocol marker every Spark write leaves and every
    // reader of a committed dir checks (_SUCCESS-gated committedVersions
    // / versions listings)
    fs.create(new Path(p, "_SUCCESS"), true).close()
  }

  /** READ metadata-scale parquet rows back as Spark (schema, rows),
    * driver-side, without a cluster scan job — the inverse of
    * [[writeRows]]. The schema is read from the file footers, so a
    * zero-row file reads back with its columns. Schemas merge across
    * files by field name (first-seen order, the mergeSchema shape a
    * stats-evolving store needs); INT32 and INT64 under one name widen
    * to LONG, and any other pair of types under one name fails loudly.
    * Only the metadata type universe is supported — any other parquet
    * type fails here, routing the caller to a Spark read.
    */
  def readRows(conf: Configuration, dir: String)
      : (org.apache.spark.sql.types.StructType,
         Seq[org.apache.spark.sql.Row]) = readRowsMerged(conf, Seq(dir))

  /** [[readRows]] over SEVERAL directories with one merged schema —
    * the mergeSchema union shape `SnapshotStore.manifest` serves (a
    * store whose older versions committed plain rows and whose newer
    * ones carry stats reads as ONE table, stats null on legacy rows).
    */
  def readRowsMerged(conf: Configuration, dirs: Seq[String])
      : (org.apache.spark.sql.types.StructType,
         Seq[org.apache.spark.sql.Row]) =
    rowsOf(dirs.flatMap(readDir(conf, _)), dirs.mkString(","))

  /** [[readRows]] as a DataFrame: a LocalRelation when every column is
    * in the metadata type universe, else a Spark scan of the same files
    * ([[readParquet]]) — the shape of a table whose writer fell back to
    * Spark because [[writableSchema]] refused its schema (a vector
    * store's caller-supplied centroids).
    */
  def readTable(spark: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val statuses = parquetFiles(conf, dir)
    val files = statuses.map(readFile(conf, _))
    if (files.forall(_._1.getFields.asScala.forall(sparkType(_).isRight))) {
      val (schema, rows) = rowsOf(files, dir)
      spark.createDataFrame(rows.asJava, schema)
    } else readParquet(spark, statuses.map(_.getPath.toString),
      mergeSchema = false)
  }

  /** One footer field's Spark type, or why it lies outside the metadata
    * type universe.
    */
  private def sparkType(t: org.apache.parquet.schema.Type)
      : Either[String, org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    if (!t.isPrimitive) {
      // the standard 3-level LIST layout [[writeRows]] produces for
      // ARRAY<DOUBLE> (and Spark's own writer produces for legacy
      // files): group (LIST) { repeated group list { element } }
      val gt = t.asGroupType()
      val isList = gt.getLogicalTypeAnnotation.isInstanceOf[
          LogicalTypeAnnotation.ListLogicalTypeAnnotation] &&
        gt.getFieldCount == 1 && !gt.getType(0).isPrimitive &&
        gt.getType(0).asGroupType().getFieldCount == 1 &&
        gt.getType(0).asGroupType().getType(0).isPrimitive
      if (!isList) return Left(s"metadata field ${t.getName} is a " +
        "non-LIST group — outside the metadata type universe; read it " +
        "with Spark")
      val el = gt.getType(0).asGroupType().getType(0).asPrimitiveType()
      if (el.getPrimitiveTypeName != PrimitiveTypeName.DOUBLE)
        return Left(s"metadata LIST field ${t.getName} carries " +
          s"${el.getPrimitiveTypeName} — only ARRAY<DOUBLE> supported")
      return Right(ArrayType(DoubleType, containsNull =
        el.getRepetition !=
          org.apache.parquet.schema.Type.Repetition.REQUIRED))
    }
    val pt = t.asPrimitiveType()
    pt.getPrimitiveTypeName match {
      // an annotated integral column (DATE, DECIMAL, TIME, TIMESTAMP, a
      // narrow or unsigned INT) does not hold plain INT/LONG values
      case PrimitiveTypeName.INT64 | PrimitiveTypeName.INT32
          if pt.getLogicalTypeAnnotation != null =>
        Left(s"metadata field ${t.getName} is ${pt.getPrimitiveTypeName} " +
          s"annotated ${pt.getLogicalTypeAnnotation} — outside the metadata " +
          "type universe; read it with Spark")
      case PrimitiveTypeName.INT64 => Right(LongType)
      case PrimitiveTypeName.INT32 => Right(IntegerType)
      case PrimitiveTypeName.BINARY
          if pt.getLogicalTypeAnnotation.isInstanceOf[
            LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
        Right(StringType)
      case PrimitiveTypeName.BINARY => Right(BinaryType)
      case PrimitiveTypeName.BOOLEAN => Right(BooleanType)
      case PrimitiveTypeName.DOUBLE => Right(DoubleType)
      case other => Left(s"metadata field ${t.getName} has parquet type " +
        s"$other — outside the metadata type universe; read it with Spark")
    }
  }

  /** Rows of already-read files under one merged schema (the
    * [[readRowsMerged]] contract); `where` names the source in errors.
    */
  private[substrate] def rowsOf(
      files: Seq[(org.apache.parquet.schema.MessageType, Seq[Group])],
      where: String)
      : (org.apache.spark.sql.types.StructType,
         Seq[org.apache.spark.sql.Row]) = {
    import org.apache.spark.sql.types._
    val gs = files.flatMap(_._2)
    // a LONG field reads INT32 values too (optLong widens)
    val schema = unionSchemas(files.map { case (t, _) =>
      StructType((0 until t.getFieldCount).map { i =>
        StructField(t.getType(i).getName, sparkType(t.getType(i))
          .fold(e => throw new IllegalStateException(e), identity))
      })
    }, where)
    val rows = gs.map { g =>
      org.apache.spark.sql.Row.fromSeq(schema.fields.toSeq.map { f =>
        f.dataType match {
          case LongType => optLong(g, f.name).map(Long.box).orNull
          case IntegerType =>
            // optLong widens INT32; narrow back for an IntegerType field
            optLong(g, f.name).map(v => Int.box(v.toInt)).orNull
          case StringType => optString(g, f.name).orNull
          case BinaryType => optBinary(g, f.name).orNull
          case BooleanType =>
            if (!g.getType.containsField(f.name) ||
                g.getFieldRepetitionCount(f.name) == 0) null
            else Boolean.box(g.getBoolean(f.name, 0))
          case DoubleType =>
            if (!g.getType.containsField(f.name) ||
                g.getFieldRepetitionCount(f.name) == 0) null
            else Double.box(g.getDouble(f.name, 0))
          case ArrayType(DoubleType, _) =>
            if (!g.getType.containsField(f.name) ||
                g.getFieldRepetitionCount(f.name) == 0) null
            else {
              val lg = g.getGroup(f.name, 0)
              val n = lg.getFieldRepetitionCount(0)
              (0 until n).map { j =>
                val el = lg.getGroup(0, j)
                if (el.getFieldRepetitionCount(0) == 0) null
                else Double.box(el.getDouble(0, 0))
              }
            }
          case other => throw new IllegalStateException(other.toString)
        }
      })
    }
    (schema, rows)
  }

  /** One schema over several: fields by name in first-seen order, all
    * nullable; INT and LONG under one name widen to LONG, and any other
    * pair of types under one name fails loudly.
    */
  private def unionSchemas(
      schemas: Seq[org.apache.spark.sql.types.StructType], where: String)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    val fields = scala.collection.mutable.LinkedHashMap[String, DataType]()
    for (s <- schemas; f <- s.fields) fields.get(f.name) match {
      case Some(prev) if prev == f.dataType => ()
      case Some(prev) if Set(prev, f.dataType) == Set[DataType](IntegerType,
          LongType) => fields.put(f.name, LongType)
      case Some(prev) => throw new IllegalArgumentException(
        s"metadata field ${f.name} carries both $prev and ${f.dataType} " +
          s"under $where — schemas must agree to merge")
      case None => fields.put(f.name, f.dataType)
    }
    StructType(fields.toSeq.map { case (n, t) =>
      StructField(n, t, nullable = true) })
  }

  /** Several (schema, rows) parts as one: the [[unionSchemas]] schema,
    * each part's rows in order with its missing fields null and INT
    * values widened where the merged field is LONG — driver-side, what
    * `unionByName(allowMissingColumns = true)` gives over the same parts.
    */
  private[substrate] def unionRows(
      parts: Seq[(org.apache.spark.sql.types.StructType,
        Seq[org.apache.spark.sql.Row])], where: String)
      : (org.apache.spark.sql.types.StructType,
         Seq[org.apache.spark.sql.Row]) = {
    import org.apache.spark.sql.types._
    val schema = unionSchemas(parts.map(_._1), where)
    val rows = parts.flatMap { case (s, rs) =>
      val from = schema.fields.toSeq.map(f =>
        (Some(s.fieldNames.indexOf(f.name)).filter(_ >= 0), f.dataType))
      rs.map(r => org.apache.spark.sql.Row.fromSeq(from.map {
        case (None, _) => null
        case (Some(i), LongType) => r.get(i) match {
          case n: java.lang.Integer => Long.box(n.longValue)
          case x => x
        }
        case (Some(i), _) => r.get(i)
      }))
    }
    (schema, rows)
  }

  /** Nullable integral field (parquet INT32 or INT64) by name. */
  def optLong(g: Group, name: String): Option[Long] = {
    val t = g.getType
    if (!t.containsField(name)) return None
    if (g.getFieldRepetitionCount(name) == 0) return None
    t.getType(name).asPrimitiveType().getPrimitiveTypeName match {
      case PrimitiveTypeName.INT32 => Some(g.getInteger(name, 0).toLong)
      case PrimitiveTypeName.INT64 => Some(g.getLong(name, 0))
      case other => throw new IllegalStateException(
        s"metadata field $name is $other, expected an integral type")
    }
  }

  /** Nullable string field by name. */
  def optString(g: Group, name: String): Option[String] = {
    if (!g.getType.containsField(name)) return None
    if (g.getFieldRepetitionCount(name) == 0) return None
    Some(g.getString(name, 0))
  }

  /** Nullable binary field by name (bloom sidecars in stats manifests). */
  def optBinary(g: Group, name: String): Option[Array[Byte]] = {
    if (!g.getType.containsField(name)) return None
    if (g.getFieldRepetitionCount(name) == 0) return None
    Some(g.getBinary(name, 0).getBytes)
  }

  /** String bounds longer than this are TRUNCATED, not dropped as
    * unknown, so predicates on long-text prefixes still skip files:
    * the MIN truncates to its first [[TruncateTo]] code points (a
    * strict prefix sorts ≤ the full string in unsigned UTF-8 order —
    * the range can only widen), and the MAX truncates with the last
    * incrementable code point bumped ([[truncateMax]], the Iceberg
    * UnicodeUtil discipline) so the recorded bound sorts strictly ABOVE
    * every string sharing the prefix — again only widening. Truncation
    * operates on CODE POINTS, never raw bytes, so a multi-byte char is
    * never split (truncating bytes could leave a partial character);
    * code-point order equals UTF-8 unsigned byte order, so the
    * incremented bound compares correctly under [[utf8Lt]]. A max whose
    * every prefix position is saturated (all U+10FFFF) stays UNKNOWN —
    * unknown beats wrong, as everywhere in this planner.
    */
  private val MaxStringBound = 64
  private val TruncateTo = 16

  /** First `n` code points of `s` — the conservative LOWER bound. */
  private[substrate] def truncateMin(s: String, n: Int): String =
    if (s.codePointCount(0, s.length) <= n) s
    else s.substring(0, s.offsetByCodePoints(0, n))

  /** First `n` code points with the last incrementable one bumped —
    * strictly above every string sharing the truncated prefix, the
    * conservative UPPER bound. The bump skips the surrogate gap
    * (U+D7FF increments to U+E000 — isolated surrogates don't
    * round-trip through UTF-8) and walks backward past saturated
    * (U+10FFFF) positions; None when every position is saturated.
    */
  private[substrate] def truncateMax(s: String, n: Int): Option[String] = {
    if (s.codePointCount(0, s.length) <= n) return Some(s)
    val cps = s.codePoints().toArray.take(n)
    var i = n - 1
    while (i >= 0) {
      val c = cps(i)
      if (c < Character.MAX_CODE_POINT) {
        val next = if (c == 0xD7FF) 0xE000 else c + 1
        return Some(new String(cps, 0, i) + new String(Array(next), 0, 1))
      }
      i -= 1
    }
    None
  }

  /** Unsigned lexicographic comparison of UTF-8 bytes — the order
    * parquet writers compute BINARY/UTF8 statistics in (and the order
    * Spark's UTF8String comparisons use), so cross-block reduction and
    * probe-side comparison agree with how the bounds were produced.
    */
  private[substrate] def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val d = (x(i) & 0xFF) - (y(i) & 0xFF)
      if (d != 0) return d < 0
      i += 1
    }
    x.length < y.length
  }

  /** Exact row count of one parquet file from its footer's block
    * metadata — driver-side, no Spark job (what [[SnapshotStore
    * .countAt]] subtracts per positional-delete sidecar file, r16).
    */
  def rowCount(conf: Configuration, file: String): Long =
    footerStats(conf, file, Nil)._1

  /** Per-FILE statistics read from the parquet FOOTER, driver-side —
    * row count plus min/max for each requested column: the stats a
    * table format's commit records per data file (Iceberg manifests
    * carry per-file column bounds; Delta collects per-file min/max into
    * its log) so scan PLANNING can skip files without touching row
    * data. The writer already computed these — every parquet row group
    * carries column statistics — so collecting them costs one footer
    * read per file (O(#files) driver I/O, the same budget as the
    * manifest listing itself), never a cluster job.
    *
    * Two bound domains, each column landing in at most one, so both
    * integral and string predicates prune:
    * INTEGRAL columns (INT32/INT64, plain signed) report LONG bounds;
    * STRING columns (BINARY + UTF8 annotation) report string bounds in
    * unsigned UTF-8 byte order, truncated conservatively when a bound
    * exceeds [[MaxStringBound]] chars (see [[truncateMax]]). A column's bounds are absent —
    * unknown, so pruning must keep the file — when the column is
    * missing from the file schema, has any other physical/logical type
    * (DECIMAL-backed INT64 stores UNSCALED values, unsigned ints
    * reorder above 2^63, TIMESTAMP annotations are value-domain
    * ambiguous), or any row group recorded no
    * non-null values for it (min-of-mins over a block with empty stats
    * would understate the range). Row count is exact regardless: it
    * comes from block metadata, not column stats.
    */
  def footerStats(conf: Configuration, file: String, cols: Seq[String])
      : (Long, Map[String, (Long, Long)], Map[String, (String, String)]) = {
    import scala.jdk.CollectionConverters._
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new Path(file), conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      def statsOf(c: String,
          typeOk: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData
            => Boolean) =
        blocks.map { b =>
          b.getColumns.asScala.find(_.getPath.toDotString == c)
            .filter(typeOk)
            .map(_.getStatistics)
            .filter(s => s != null && !s.isEmpty && s.hasNonNullValue)
            .map(s => (s.genericGetMin, s.genericGetMax))
        }
      val longBounds = cols.flatMap { c =>
        val perBlock = statsOf(c, cc =>
          (cc.getPrimitiveType.getPrimitiveTypeName ==
              PrimitiveTypeName.INT32 ||
            cc.getPrimitiveType.getPrimitiveTypeName ==
              PrimitiveTypeName.INT64) &&
          (cc.getPrimitiveType.getLogicalTypeAnnotation match {
            case null => true
            case i: org.apache.parquet.schema
                .LogicalTypeAnnotation.IntLogicalTypeAnnotation => i.isSigned
            case _ => false
          })).map(_.flatMap {
            case (mn: java.lang.Integer, mx: java.lang.Integer) =>
              Some((mn.toLong, mx.toLong))
            case (mn: java.lang.Long, mx: java.lang.Long) =>
              Some((mn.toLong, mx.toLong))
            case _ => None
          })
        if (perBlock.isEmpty || perBlock.exists(_.isEmpty)) None
        else Some(c -> perBlock.flatten
          .reduce((a, b) => (math.min(a._1, b._1), math.max(a._2, b._2))))
      }.toMap
      val strBounds = cols.flatMap { c =>
        val perBlock = statsOf(c, cc =>
          cc.getPrimitiveType.getPrimitiveTypeName ==
            PrimitiveTypeName.BINARY &&
          cc.getPrimitiveType.getLogicalTypeAnnotation
            .isInstanceOf[org.apache.parquet.schema
              .LogicalTypeAnnotation.StringLogicalTypeAnnotation])
          .map(_.flatMap {
            case (mn: org.apache.parquet.io.api.Binary,
                mx: org.apache.parquet.io.api.Binary) =>
              Some((mn.toStringUsingUTF8, mx.toStringUsingUTF8))
            case _ => None
          })
        if (perBlock.isEmpty || perBlock.exists(_.isEmpty)) None
        else {
          val (mn, mx) = perBlock.flatten.reduce((a, b) =>
            (if (utf8Lt(a._1, b._1)) a._1 else b._1,
              if (utf8Lt(a._2, b._2)) b._2 else a._2))
          // over-long bounds truncate CONSERVATIVELY (min → prefix,
          // max → prefix-and-increment) instead of dropping to unknown
          val lo = if (mn.length > MaxStringBound)
            truncateMin(mn, TruncateTo) else mn
          val hiOpt = if (mx.length > MaxStringBound)
            truncateMax(mx, TruncateTo) else Some(mx)
          hiOpt.map(hi => c -> (lo, hi))
        }
      }.toMap
      (rows, longBounds, strBounds)
    } finally reader.close()
  }
}
